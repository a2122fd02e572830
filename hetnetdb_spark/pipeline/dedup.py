"""Deduplication pipeline — SURVEY §2.9 L1/L2 over ``documents``.

Four dedup strategies a training-data pipeline runs, in increasing
fuzziness:

- **exact** (`l01_exact_dedup`): group on a content hash, keep the
  first-crawled row. The shuffle key is a 128-bit xxhash64 pair,
  never the text — at 100 TB the shuffle carries hashes + ids only.
- **n-gram Jaccard** (`l02_ngram_jaccard`): exact shingle-set
  overlap, the verification metric every approximate method below
  is tuned against. Oracle-checked.
- **MinHash + banded LSH** (`l02_minhash_neardup`): 32 deterministic
  hash "permutations" (xxhash64 seeded by permutation index), 8
  bands × 4 rows, candidates bucket-join on band keys — the
  standard sub-quadratic near-dup join. Rows-only (xxhash64 is
  engine-defined).
- **SimHash** (`l02_simhash_neardup`): 64-bit sign-vote fingerprint,
  band-blocked hamming-distance pairs. Rows-only.

- **embedding-cosine** (`l02_embedding_neardup`): semantic dedup —
  drop a doc when any lower-id doc's embedding has cosine ≥ 0.35.
  Oracle-checked; pair generation shares the L4 similarity-join
  machinery in `hetnetdb_spark.pipeline.similarity`.
"""

from __future__ import annotations

import os
from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hetnetdb_spark.catalog import load_tables, spread
from hetnetdb_spark.expr import dot, r6
from hetnetdb_spark.pipeline.similarity import band_candidates, duck_dot
from hetnetdb_spark.registry import query
from hetnetdb_spark.scratch import SCRATCH  # per-process; see scratch.py

# --------------------------------------------------------------------------
# L1 — exact dedup (hash-groupBy, deterministic keeper)
# --------------------------------------------------------------------------

L1_ORACLE = """
WITH crawl AS (
    SELECT doc_id, text, source FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, text, source FROM documents
),
kept AS (
    SELECT source, doc_id,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM crawl
)
SELECT source,
       COUNT(*)                            AS n_input,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(MIN(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)   AS first_kept_id
FROM kept
GROUP BY source
"""


@query("l01_exact_dedup", oracle=L1_ORACLE)
def l01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 — exact dedup over a simulated re-crawl (the corpus
    unioned with itself under new ids, so every text has exactly one
    duplicate). Keeper selection is deterministic: the group's
    min-doc_id row, i.e. the oracle's ``row_number() OVER (PARTITION
    BY md5(text) ORDER BY doc_id) = 1`` — NOT `dropDuplicates`,
    whose survivor depends on partition order.

    r13 rewrite (r12 verdict): the keeper is now a pure-numeric HASH
    AGGREGATE, not a sort-window. Three measured findings shape the
    plan (all at the 300x corpus, 3M crawl rows):

    - Spark hash-aggregates only mutable (fixed-width) buffer
      types, so ``min(struct)``, ``min(string)`` and ``min_by`` all
      fall back to SortAggregate. The keeper's (doc_id, source)
      therefore rides ONE bigint: sources get a dense numeric id
      from a broadcast ~cardinality(source) dim, and the keeper per
      hash group is ``min(doc_id << 20 | src_id)``.
    - The group key is a TWO-LONG xxhash64 pair (seeds 0 and 1 —
      128 collision bits, same safety class as the oracle's md5
      grouping device), not the md5 hex string: primitive group
      keys hash-aggregate fastest, and the shuffle row is
      (8+8+8 bytes); text never leaves the scan. Fresh-process A/B
      at 300x (tools/l01_experiment.py, 3 procs/variant): xx-pair
      partial-agg 3.07 s best vs 3.27 (md5 partial) / 3.57 (md5 +
      explicit repartition) / 3.94 (xx + repartition). The explicit
      repartition-before-groupBy idea (skip the useless map-side
      combine on near-unique keys) won in isolated component
      benches but LOSES ~0.5 s in the full query — planner-default
      partial+final kept.
    - n_input does NOT ride the keeper shuffle: feeding both
      rollups from one shuffled frame looks like it should plan a
      ReusedExchange, but the self-join re-instantiates the subtree
      with fresh expression ids and the exchanges stay separate —
      measured as TWO full text scans + two corpus shuffles
      (3.7-4.6 s). A plain ``groupBy(source).count()`` over a
      source-only column-pruned scan (no hashing) runs as an
      independent leaf stage concurrently with the keeper pipeline.

    Keeper ties (same doc_id in two sources for one hash) break
    deterministically by source rank, where the window's ORDER BY
    doc_id left them to partition order. Packing bound: doc_id <
    2^43 and ≤ 2^20 distinct sources."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    base = documents.select("doc_id", "text", "source")
    crawl = base.unionByName(
        base.withColumn("doc_id", F.col("doc_id") + 100000)
    )
    # deterministic dense source ids: tiny frame (distinct sources —
    # base's set IS crawl's set by construction of the union),
    # single-partition sort of a handful of rows
    dim = (
        base.select("source")
        .distinct()
        .withColumn("src_id", F.row_number().over(Window.orderBy("source")))
    )
    packed = F.shiftleft(F.col("doc_id"), 20) + F.col("src_id")
    src_id = F.col("p").bitwiseAND(F.lit((1 << 20) - 1)).alias("src_id")
    keepers = (
        crawl.join(F.broadcast(dim), "source")
        .select(
            F.xxhash64("text").alias("h1"),
            F.xxhash64(F.lit(1), "text").alias("h2"),
            packed.alias("p"),
        )
        .groupBy("h1", "h2")
        .agg(F.min("p").alias("p"))
    )
    kept = (
        keepers.groupBy(src_id)
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min(F.shiftright(F.col("p"), 20)).alias("first_kept_id"),
        )
        .join(F.broadcast(dim), "src_id")
    )
    inputs = crawl.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_input")
    )
    return inputs.join(
        kept.select("source", "n_kept", "first_kept_id"), "source", "left"
    ).select(
        "source",
        "n_input",
        F.coalesce("n_kept", F.lit(0).cast("bigint")).alias("n_kept"),
        "first_kept_id",
    )


# --------------------------------------------------------------------------
# L2 (exact metric) — n-gram Jaccard similarity, oracle-checked
# --------------------------------------------------------------------------

#: 3-token shingle set over the ``_toks`` column (``text`` split on
#: single spaces) — build it with `shingles`, which splits once per
#: doc. Spelled with ``split(text, ' ')`` inline, the split sat inside
#: the per-index lambda and re-ran for every shingle: O(tokens²)
#: interpreted work per doc (``ArrayTransform`` is a
#: ``CodegenFallback``, so no subexpression is shared).
_SHINGLE_SPARK = (
    "array_distinct(transform(sequence(1, greatest(size(_toks) - 2, 1)), "
    "i -> concat_ws(' ', slice(_toks, i, 3))))"
)


def shingles(df: DataFrame, *keep: str) -> DataFrame:
    """``(*keep, sh)``: each row's shingle set (`_SHINGLE_SPARK`),
    with ``text`` split ONCE into the ``_toks`` column the shingle
    lambda reads. The optimizer keeps the split in its own
    projection because the shingle expression reads ``_toks`` twice
    (CollapseProject does not duplicate a non-trivial expression)."""
    return df.withColumn("_toks", F.split(F.col("text"), " ")).select(
        *keep, F.expr(_SHINGLE_SPARK).alias("sh")
    )


def hashed_shingles(df: DataFrame) -> DataFrame:
    """``(doc_id, hv)``: each doc's shingle set hashed with the
    portable family at label 99 (outside the 0..31 permutation
    family) — the verification payload of the MinHash joins, which
    ships 8-byte longs instead of shingle strings."""
    return shingles(df, "doc_id").selectExpr(
        "doc_id", f"array_distinct(transform(sh, _s -> {_mh_hash_sql(99, '_s')})) AS hv"
    )

L2_JACCARD_ORACLE = """
WITH s AS (
    SELECT doc_id,
           list_distinct(list_transform(
             range(1, GREATEST(len(string_split(text, ' ')) - 2, 1) + 1),
             i -> string_split(text, ' ')[i] || ' ' ||
                  string_split(text, ' ')[i+1] || ' ' ||
                  string_split(text, ' ')[i+2])) AS sh
    FROM documents
    WHERE doc_id < 60 AND len(string_split(text, ' ')) >= 3
),
pairs AS (
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           ROUND(CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
                 / (len(a.sh) + len(b.sh)
                    - len(list_filter(a.sh, x -> list_contains(b.sh, x)))), 6) AS jaccard
    FROM s a, s b WHERE a.doc_id < b.doc_id
)
SELECT a_id, b_id, jaccard
FROM pairs
ORDER BY jaccard DESC, a_id, b_id
LIMIT 20
"""


@query("l02_ngram_jaccard", oracle=L2_JACCARD_ORACLE)
def l02_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 exact metric — 3-token shingle Jaccard, top-20 pairs on a
    bounded doc range. Shingling is a higher-order `transform` over
    `sequence` (interpreted, no UDF). Docs under 3 tokens are excluded
    on BOTH sides: the engines degenerate differently there (DuckDB's
    out-of-range list index nulls the concat and list_distinct drops
    it; Spark's slice keeps the partial shingle), and a <3-token doc
    has no 3-gram shingle set to speak of anyway. This exact metric
    is what the MinHash estimate below converges to."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    s = shingles(
        documents.filter(
            (F.col("doc_id") < 60) & (F.size(F.split(F.col("text"), " ")) >= 3)
        ),
        "doc_id",
    )
    a = s.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("a_sh"))
    b = s.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("b_sh"))
    inter = F.size(F.array_intersect(F.col("a_sh"), F.col("b_sh")))
    union = F.size(F.col("a_sh")) + F.size(F.col("b_sh")) - inter
    return (
        a.join(F.broadcast(b), F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            r6(inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "a_id", "b_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
# L2 — MinHash + banded LSH near-dup join (FULL oracle: portable hashes)
# --------------------------------------------------------------------------

N_HASHES = 32
N_BANDS = 8
ROWS_PER_BAND = N_HASHES // N_BANDS
JACCARD_THRESHOLD = 0.5

#: DuckDB spelling of the shingle set that matches _SHINGLE_SPARK
#: exactly, INCLUDING short docs: `list_slice` clamps like Spark's
#: `slice`, so a 1-token doc yields the same partial shingle in both
#: engines (the l02_ngram oracle sidesteps this with a length filter;
#: the minhash replay must not, because the Spark side hashes every
#: doc).
_SHINGLE_DUCK = (
    "list_distinct(list_transform("
    "range(1, GREATEST(len(string_split(text, ' ')) - 2, 1) + 1), "
    "i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')))"
)


def _mh_hash_duck(j: int, x: str = "x") -> str:
    """Portable 60-bit hash h_j(x): the first 15 hex chars of
    md5('j:' || x) as a BIGINT — bit-identical in Spark via
    conv(substr(md5(...), 1, 15), 16, 10). 15 chars keeps the value
    inside a signed 64-bit long in both engines."""
    return f"CAST('0x' || substr(md5('{j}:' || {x}), 1, 15) AS BIGINT)"


def _mh_hash_sql(j: int, x: str) -> str:
    """Spark SQL text of h_j(x), the twin of `_mh_hash_duck`. Plans
    embed it in larger SQL strings, built with one Py4J call each
    instead of one per Column node."""
    return f"CAST(conv(substring(md5(concat('{j}:', {x})), 1, 15), 16, 10) AS BIGINT)"


#: The 32-hash MinHash signature as select-list SQL (``mh0`` ..
#: ``mh31`` over an ``sh`` shingle column). Each hash index is baked
#: into its string, so no Python closure can bind it wrongly (the
#: round-5 default-argument lambda bug, where ``j`` bound the element
#: index and the family silently changed).
_MH_SIG_SQL = [
    f"array_min(transform(sh, _s -> {_mh_hash_sql(j, '_s')})) AS mh{j}"
    for j in range(N_HASHES)
]


def _banded_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sh) → exploded (doc_id, band_id, bucket) band keys.

    Shared by l02 (global near-dup), l59 (incremental probe), l70,
    l79 and l81. Signature and band structs are each built as SQL text
    (`_MH_SIG_SQL`, one explode string): the Column spelling cost
    one Py4J round-trip per expression node.

    The banding explode carries ONLY (band key, doc_id) — shingle
    sets re-join onto deduplicated candidate pairs for
    verification, so at corpus scale the band shuffle moves ids,
    never shingle arrays."""
    bands = ", ".join(
        f"named_struct('band_id', {b}, 'bucket', concat_ws(',', "
        + ", ".join(
            f"CAST(mh{b * ROWS_PER_BAND + r} AS STRING)" for r in range(ROWS_PER_BAND)
        )
        + "))"
        for b in range(N_BANDS)
    )
    return (
        docs.selectExpr("doc_id", *_MH_SIG_SQL)
        .select("doc_id", F.expr(f"explode(array({bands}))").alias("band"))
        .select("doc_id", "band.band_id", "band.bucket")
    )


def _mh_sig_ctes(src: str = "documents") -> str:
    """The s → mh signature CTE prefix: shingle sets and the
    32-hash MinHash signature per doc. Split out of
    ``_mh_cand_ctes`` so the l72 estimator-accuracy oracle can
    reuse the EXACT signature definition without the banding legs
    (one spelling of the hash family, everywhere)."""
    mh_cols = ",\n           ".join(
        f"list_min(list_transform(sh, x -> {_mh_hash_duck(j)})) AS mh{j}"
        for j in range(N_HASHES)
    )
    return f"""s AS (
    SELECT doc_id, {_SHINGLE_DUCK} AS sh FROM {src}
),
mh AS (
    SELECT doc_id,
           {mh_cols}
    FROM s
)"""


def _mh_cand_ctes(src: str = "documents") -> str:
    """The s → mh → banded → cand CTE chain shared by the l02
    MinHash oracle and the l70 recall-curve oracle — ONE definition
    so the banding semantics cannot silently diverge between the
    operator and its quality audit (the lsh_candidate_cte pattern
    applied to the text side). With the default ``src`` the
    generated text is byte-identical to the pre-refactor l02
    oracle; l70 points it at its planted-variant universe."""
    band_rows = "\n    UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        + " || ',' || ".join(
            f"CAST(mh{b * ROWS_PER_BAND + r} AS VARCHAR)"
            for r in range(ROWS_PER_BAND)
        )
        + " AS bucket FROM mh"
        for b in range(N_BANDS)
    )
    return f"""{_mh_sig_ctes(src)},
banded AS (
    {band_rows}
),
cand AS (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM banded a JOIN banded b
      ON a.band_id = b.band_id AND a.bucket = b.bucket
     AND a.doc_id < b.doc_id
)"""


def _l02_minhash_oracle() -> str:
    return f"""
WITH {_mh_cand_ctes()},
hs AS (
    SELECT doc_id,
           list_distinct(list_transform(sh, x -> {_mh_hash_duck(99)})) AS sh
    FROM s
),
verified AS (
    SELECT c.a_id, c.b_id
    FROM cand c
    JOIN hs sa ON sa.doc_id = c.a_id
    JOIN hs sb ON sb.doc_id = c.b_id
    WHERE CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS DOUBLE)
          / (len(sa.sh) + len(sb.sh)
             - len(list_filter(sa.sh, x -> list_contains(sb.sh, x))))
          >= {JACCARD_THRESHOLD}
)
SELECT 'minhash-lsh' AS strategy,
       (SELECT COUNT(*) FROM cand)     AS n_candidates,
       (SELECT COUNT(*) FROM verified) AS n_verified
"""


@query("l02_minhash_neardup", oracle=_l02_minhash_oracle())
def l02_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 scale path — MinHash signatures + banded LSH. FULL oracle
    since round 5: the hash family is the portable md5-derived
    h_j(x) = int(md5('j:'||x)[:15 hex]) instead of engine-private
    xxhash64, so the DuckDB twin replays signatures, banding,
    candidate join, and hashed-Jaccard verification end to end —
    the same approximate-yet-verifiable upgrade l04's hyperplane
    replay made in round 4. (In a single-engine production deploy
    the family swaps back to xxhash64 for hash throughput — the
    pipeline shape is hash-agnostic; md5 costs ~3× per shingle and
    buys cross-engine bit-parity.)

    Signature: for permutation j (0..31), min over distinct shingles
    of h_j(shingle) — deterministic, seedable, no ml-lib model
    object to ship. Bands: 8 × 4 minhashes; the band key is the
    VERBATIM 4-tuple (joined as CSV — no second hash, nothing to
    diverge on); pairs sharing any band bucket are candidates
    (P[candidate] ≈ 1-(1-j⁴)⁸ — >0.96 for j≥0.7). Candidates then
    verify with COLLISION-EXACT HASHED Jaccard ≥ 0.5 over md5-HASHED
    shingle sets — not literally exact Jaccard over raw shingles: a
    60-bit hash collision (P ≈ n²/2⁶¹) would alter intersection/union
    sizes, and cross-engine parity holds because the oracle replays
    the identical hash, making even a collision bit-equal on both
    engines (integer set sizes — the threshold compare is exact). The band join is an equi-join on (band_id,
    bucket) — shuffle of 8·N short rows, never N²; the verification
    join sees only candidate members (corpus semi-joined to candidate
    ids first) and moves 8-byte hash arrays, never shingle text —
    the r13 fix after the local-cluster probe caught the planner
    broadcasting the corpus-sized shingle relation (executor OOM at
    12g AND 24g; LOCAL_CLUSTER_r13.txt). Output is the
    self-measuring summary: candidate and verified counts.
    """
    (documents,) = load_tables(spark, sf_dir, "documents")
    documents = spread(documents)  # CPU-bound hash family: see catalog.spread
    banded = _banded_signatures(shingles(documents, "doc_id"))

    # Verification must never join the CORPUS-sized shingle relation
    # directly: its in-memory size is ~50x the parquet estimate (the
    # shingle arrays materialize per row), so the planner's static
    # estimate reads "broadcastable" and every executor would build a
    # multi-GB hashed relation of all shingles — measured killing
    # 12g AND 24g executor JVMs (exit 52) under local-cluster at the
    # 30x corpus while local[32]'s single shared heap hid it
    # (LOCAL_CLUSTER_r13.txt). Semi-join the corpus down to candidate
    # members FIRST (ids only — the one genuinely small relation
    # here), then recompute shingles for that sliver; every
    # shingle-bearing join input is now candidate-sized.
    #
    # `candidates` has two consumers (the member ids below and the
    # verification join), yet the signature subtree — 32 md5-derived
    # hashes per shingle, THE dominant cost — runs once per
    # execution: `band_candidates` puts one exchange under both band
    # join sides, so the candidate subtree is one canonical plan and
    # every repeat of it (its dedup shuffle included) is a
    # ReusedExchange (pinned by test_dedup_kernels_run_once). That
    # replaced an eager localCheckpoint, which ran the signature
    # stages inside plan building and left one persisted RDD behind
    # per call, never released. The candidate count needs no separate
    # agg leg either — the verification join is inner on ids that
    # exist by construction, so its row count IS the candidate
    # count; both tallies fall out of one aggregate.
    candidates = band_candidates(banded, id_col="doc_id", key="bucket")
    cand_ids = (
        candidates.select(
            F.explode(F.array(F.col("a_id"), F.col("b_id"))).alias("doc_id")
        )
        .distinct()
    )
    # The verification payload is the HASHED shingle set
    # (`hashed_shingles`), not the shingle strings: the hashed-Jaccard
    # compare is set arithmetic either way, and 8-byte longs keep the
    # candidate-side shuffle at "hashes and ids" — the posture the
    # rest of this operator already holds. The oracle replays the
    # identical hash, so even a collision (P ≈ n²/2⁶¹) is bit-equal
    # on both engines.
    # The hashed column is named hv, NOT sh: plan pins distinguish
    # "raw shingles may never enter an exchange" (sh) from "hashed
    # candidate-member sets may" (hv). Both verification joins are
    # pinned to sort-merge: the relation below them is a semi-join
    # output with no materialized stage, so AQE can only see the
    # static estimate — which reads "broadcastable" while the real
    # deserialized LongHashedRelation is GBs (measured: executor OOM
    # in HashedRelation.readLongArray at the 100x corpus under
    # local-cluster 12g). SMJ spills; a broadcast build does not.
    # r14 ORDER FIX: hv is computed BEFORE the semi-join, not after.
    # The r13 spelling (semi-join documents, then project hv) let the
    # STATIC planner spell the semi-join as SMJ and hang its
    # hashpartitioning(doc_id) exchange below the projection — AQE
    # re-planned the join to broadcast at runtime, but the corpus
    # exchange had already materialized as a stage boundary CARRYING
    # RAW TEXT (caught by the r14 l79 plan pin; the PIPELINE_DEMO_r13
    # "zero text exchanges" reading was wrong — its 1526 MB l02
    # shuffle is corpus-text-sized). With hv projected first, the
    # worst-case exchange payload at any scale is (doc_id, hv):
    # fixed-width pseudonymized longs, never raw text. Cost: the
    # label-99 hash family runs over ALL docs instead of candidate
    # members — one extra pass next to the 32 the signatures already
    # pay (~3%), and it runs map-side in the scan projection.
    docs_cand = hashed_shingles(documents).join(cand_ids, "doc_id", "left_semi")
    sh_a = docs_cand.select(F.col("doc_id").alias("a_id"), F.col("hv").alias("a_hv"))
    sh_b = docs_cand.select(F.col("doc_id").alias("b_id"), F.col("hv").alias("b_hv"))
    inter = F.size(F.array_intersect(F.col("a_hv"), F.col("b_hv")))
    union = F.size(F.col("a_hv")) + F.size(F.col("b_hv")) - inter
    flags = (
        candidates.join(sh_a.hint("merge"), "a_id")
        .join(sh_b.hint("merge"), "b_id")
        .select(
            (inter.cast("double") / union.cast("double") >= JACCARD_THRESHOLD)
            .cast("long")
            .alias("ok")
        )
    )
    return flags.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.coalesce(F.sum("ok"), F.lit(0)).cast("bigint").alias("n_verified"),
    ).select(
        F.lit("minhash-lsh").alias("strategy"),
        "n_candidates",
        "n_verified",
    )


# --------------------------------------------------------------------------
# L2 — SimHash near-dup (FULL oracle: portable hashes)
# --------------------------------------------------------------------------

SIMHASH_BITS = 60
SIMHASH_BANDS = 4
BITS_PER_SIMHASH_BAND = SIMHASH_BITS // SIMHASH_BANDS
MAX_HAMMING = 8


def _simhash_cand_ctes() -> str:
    """The toks → h → votes → fps → banded → cand CTE chain shared
    by the l02 SimHash oracle and the l71 recall-curve oracle — one
    definition (the `_mh_cand_ctes` pattern), text byte-identical
    to the pre-refactor l02 oracle."""
    vote_cols = ",\n           ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(SIMHASH_BITS)
    )
    mask = (1 << BITS_PER_SIMHASH_BAND) - 1
    band_rows = "\n    UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band_id, "
        f"(simhash >> {b * BITS_PER_SIMHASH_BAND}) & {mask} AS band_val FROM fps"
        for b in range(SIMHASH_BANDS)
    )
    return f"""toks AS (
    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
    FROM documents
),
h AS (
    SELECT doc_id, {_mh_hash_duck(0, "tok")} AS h FROM toks
),
votes AS (
    SELECT doc_id,
           {vote_cols}
    FROM h GROUP BY doc_id
),
fps AS (
    SELECT doc_id, {sig} AS simhash FROM votes
),
banded AS (
    {band_rows}
),
cand AS (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
           a.simhash AS a_sig, b.simhash AS b_sig
    FROM banded a JOIN banded b
      ON a.band_id = b.band_id AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
)"""


def _l02_simhash_oracle() -> str:
    return f"""
WITH {_simhash_cand_ctes()},
near AS (
    SELECT a_id, b_id FROM cand
    WHERE bit_count(xor(a_sig, b_sig)) <= {MAX_HAMMING}
)
SELECT 'simhash' AS strategy,
       (SELECT COUNT(*) FROM cand) AS n_candidates,
       (SELECT COUNT(*) FROM near) AS n_near
"""


@query("l02_simhash_neardup", oracle=_l02_simhash_oracle())
def l02_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 alternative — 60-bit SimHash with band-blocked hamming
    search. FULL oracle since round 5: token hashes come from the
    same portable md5-derived family as the minhash rework
    (h_0(tok), 15 hex chars → 60 bits — the width a signed BIGINT
    holds identically in both engines, hence 60 not 64), so the
    DuckDB twin replays votes, bit-packing, banding, and the
    hamming verification bit-for-bit.

    Fingerprint: explode tokens once, hash each token, then 60
    conditional sign-sums in ONE hash aggregate per doc (map-side
    partial — the explode never shuffles raw tokens, only the
    per-doc partial vote vector). Vote ties (sum == 0) set the bit
    to 0 via the strict `> 0` on both engines. Bits pack into a
    single long; near-dup pairs must share one of 4 15-bit bands
    (pigeonhole: any pair within hamming 8 shares a band when
    distance spreads over 4 bands... a standard blocking
    heuristic), then verify with `bit_count(a XOR b) <= 8`. Both
    counts come from ONE aggregate over the candidate pairs: two
    crossJoined counts each re-ran the pair subtree, fingerprints
    included.
    """
    (documents,) = load_tables(spark, sf_dir, "documents")
    documents = spread(documents)  # CPU-bound hash family: see catalog.spread
    _, pairs = _simhash_fps_and_pairs(documents)
    return pairs.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.count_if(
            F.bit_count(F.col("a_sig").bitwiseXOR(F.col("b_sig"))) <= MAX_HAMMING
        ).alias("n_near"),
    ).select(F.lit("simhash").alias("strategy"), "n_candidates", "n_near")


#: Hard fence for l71's exact O(N²) popcount leg. 100k fingerprints
#: = 5e9 codegen popcounts (~10 s on 32 cores) and a 0.8 MB
#: broadcast — the largest corpus where an exact audit is still a
#: reasonable interactive spend. Fixtures are 500/500/5000 docs.
L71_AUDIT_MAX_DOCS = 100_000


def _simhash_fps_and_pairs(documents: DataFrame):
    """(fps, candidate-pairs) for the 60-bit SimHash banding — the
    Spark twin of `_simhash_cand_ctes`, shared by l02 and the l71
    recall curve so the blocking semantics cannot diverge.

    The fingerprint is ONE aggregate expression built as SQL text:
    60 vote sums, each bit set iff its sum is positive, packed by
    addition. The Column spelling of the same tree cost one Py4J
    round-trip per expression node. As in `band_candidates`, the band
    self-join's two sides share one exchange below their aliases,
    so the fingerprint subtree runs once."""
    toks = documents.selectExpr(
        "doc_id", "explode(array_distinct(split(text, ' '))) AS tok"
    ).selectExpr("doc_id", f"{_mh_hash_sql(0, 'tok')} AS h")
    sig = " + ".join(
        f"CASE WHEN sum(CASE WHEN (shiftrightunsigned(h, {i}) & 1) = 1 "
        f"THEN 1 ELSE -1 END) > 0 THEN {1 << i}L ELSE 0L END"
        for i in range(SIMHASH_BITS)
    )
    fps = toks.groupBy("doc_id").agg(F.expr(sig).alias("simhash"))

    mask = (1 << BITS_PER_SIMHASH_BAND) - 1
    bands = ", ".join(
        f"named_struct('band_id', {b}, 'band_val', "
        f"shiftrightunsigned(simhash, {b * BITS_PER_SIMHASH_BAND}) & {mask})"
        for b in range(SIMHASH_BANDS)
    )
    keyed = (
        fps.select(
            "doc_id", "simhash", F.expr(f"explode(array({bands}))").alias("band")
        )
        .select("band.band_id", "band.band_val", "doc_id", "simhash")
        .repartition("band_id", "band_val")
    )
    a = keyed.select(
        "band_id", "band_val", F.col("doc_id").alias("a_id"), F.col("simhash").alias("a_sig")
    )
    b = keyed.select(
        "band_id", "band_val", F.col("doc_id").alias("b_id"), F.col("simhash").alias("b_sig")
    )
    pairs = (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("a_id") < F.col("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    return fps, pairs


# --------------------------------------------------------------------------
# L71 — SimHash banding recall curve vs exact hamming (pigeonhole audit)
# --------------------------------------------------------------------------

L71_ORACLE = f"""
WITH {{ctes}},
truth AS (
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           bit_count(xor(a.simhash, b.simhash)) AS hd
    FROM fps a JOIN fps b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {MAX_HAMMING}
)
SELECT CASE WHEN t.hd <= 3 THEN '0-3'
            WHEN t.hd <= 6 THEN '4-6'
            ELSE '7-8' END AS hd_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       CAST(SUM(CASE WHEN c.a_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_recovered,
       ROUND(SUM(CASE WHEN c.a_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6) AS recall
FROM truth t
LEFT JOIN cand c ON c.a_id = t.a_id AND c.b_id = t.b_id
GROUP BY hd_bucket
"""


@query(
    "l71_simhash_recall_curve",
    oracle=L71_ORACLE.format(ctes=_simhash_cand_ctes()),
)
def l71_simhash_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L71 — the pigeonhole audit of SimHash band blocking: per
    hamming-distance bucket, how many true pairs exist (exact
    all-pairs popcount over the 60-bit fingerprints) and what
    fraction the 4×15-bit banding surfaced. The pigeonhole theorem
    says hamming ≤ 3 CANNOT miss (3 errors can't touch all 4
    bands — recall exactly 1.0, a hard invariant this query turns
    into a checked value); 4-8 errors can spread (2,2,2,2)-style
    across bands, so those buckets measure the heuristic's real
    loss — the number you consult before trusting banded SimHash
    as the only blocking at a given radius. Completes the
    quality-contract family: l70 (MinHash S-curve), l69 (IVF
    recall@k), l04_tuned (planted hyperplane recall).

    The exact leg is one broadcast popcount pass over N fingerprint
    LONGS (not documents, not token sets) — 12.5M codegen popcounts
    at sf0.1, trivially cheap, but still O(N²): fenced to audit
    scale exactly like l04_simjoin_exact, with the banding as the
    corpus path. Fingerprints and candidates reuse l02's shared
    builders on both engines, so operator and audit cannot
    diverge. The fence is enforced, not just documented (round-8
    ADVICE fix): above L71_AUDIT_MAX_DOCS fingerprints the broadcast
    all-pairs leg would be an O(N²) scale-killer, so the build
    raises instead of letting the broadcast OOM."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    n_docs = documents.count()
    if n_docs > L71_AUDIT_MAX_DOCS:
        raise ValueError(
            f"l71 is an audit-scale query: {n_docs} documents exceeds "
            f"the {L71_AUDIT_MAX_DOCS}-doc fence for the exact O(N^2) "
            "popcount leg; sample the corpus or trust the banded path "
            "(l02) certified by this audit at fixture scale"
        )
    documents = spread(documents)  # CPU-bound hash family: see catalog.spread
    fps, _ = _simhash_fps_and_pairs(documents)

    # Join-free recovery test (r15 optimization). Before r15 this
    # query materialized the banded candidate-PAIR relation
    # (explode → self-join → dropDuplicates) and LEFT-JOINED 4M truth
    # pairs against 2.7M candidates on (a_id, b_id) — and that join,
    # not the N² popcount, owned the wall (decomposed at sf0.1:
    # truth-BNLJ 0.94 s; truth+left-SMJ 8.77 s noop). But banding
    # membership is a PER-ROW predicate on the two signatures the
    # truth pair already carries: (a, b) is a candidate iff SOME of
    # the 4 operator bands are bit-equal — exactly the band-equality
    # condition `_simhash_fps_and_pairs`' join produces pairs from
    # (dropDuplicates only collapses multi-band hits, which
    # membership doesn't care about). So `hit` is an OR of 4
    # shift/mask compares in the same codegen pass that computes the
    # hamming distance: no banding explode, no pair self-join, no
    # left join. Measured at sf0.1: 7.78 s → 0.72 s (fresh
    # QueryExecution per pass, min-of-5 — the same protocol and
    # number as test_l71_recovery_is_join_free's docstring; a single
    # same-session pass reads ~0.9 s); oracle (which keeps the relational
    # cand-CTE spelling) re-verified identical at all three SFs —
    # the equivalence is definitional, and the driver's hash compare
    # re-checks it every round.
    fa = fps.select(F.col("doc_id").alias("a_id"), F.col("simhash").alias("sa"))
    fb = fps.select(F.col("doc_id").alias("b_id"), F.col("simhash").alias("sb"))
    hd = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    band_mask = (1 << BITS_PER_SIMHASH_BAND) - 1

    def _band(col: "F.Column", b: int) -> "F.Column":
        return F.shiftrightunsigned(col, b * BITS_PER_SIMHASH_BAND).bitwiseAND(
            F.lit(band_mask)
        )

    shares_band = reduce(
        or_,
        [
            _band(F.col("sa"), b) == _band(F.col("sb"), b)
            for b in range(SIMHASH_BANDS)
        ],
    )
    truth = (
        fa.join(F.broadcast(fb), F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            hd.alias("hd"),
            shares_band.cast("int").alias("hit"),
        )
        .filter(F.col("hd") <= MAX_HAMMING)
    )

    bucket = (
        F.when(F.col("hd") <= 3, "0-3")
        .when(F.col("hd") <= 6, "4-6")
        .otherwise("7-8")
        .alias("hd_bucket")
    )
    return (
        truth.groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("n_true_pairs"),
            F.sum("hit").cast("bigint").alias("n_recovered"),
            r6(F.sum("hit") * F.lit(1.0) / F.count(F.lit(1))).alias("recall"),
        )
    )


# --------------------------------------------------------------------------
# L2 — embedding-cosine near-dup (oracle-checked greedy keeper)
# --------------------------------------------------------------------------

EMB_TAU = 0.35

EMB_NEARDUP_ORACLE = f"""
WITH dup AS (
    SELECT DISTINCT a.vec_id AS doc_id
    FROM embeddings a JOIN embeddings b ON a.vec_id > b.vec_id
    WHERE ROUND({{dot}}, 6) >= {EMB_TAU}
)
SELECT d.source,
       COUNT(*)                                                      AS n_total,
       CAST(SUM(CASE WHEN dup.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(MIN(CASE WHEN dup.doc_id IS NULL THEN d.doc_id END) AS BIGINT) AS first_kept_id
FROM documents d LEFT JOIN dup USING (doc_id)
GROUP BY d.source
"""


@query(
    "l02_embedding_neardup",
    oracle=EMB_NEARDUP_ORACLE.format(dot=duck_dot("a.embedding", "b.embedding")),
)
def l02_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 — embedding-cosine near-dup with a greedy lowest-id keeper.

    Semantic dedup: a document is dropped when ANY lower-id document's
    embedding has cosine ≥ 0.35 with it (fixture embeddings are
    pre-normalized and 1:1 with documents, vec_id = doc_id). Greedy
    first-keeper — no transitive closure — so the kept set is
    deterministic and SQL-expressible; output is the per-source
    funnel (total → kept → first kept id).

    Physical shape: the pair generation is the exact O(N²/2)
    triangle via `similarity.exact_pairs`' GEMM kernel — the honest,
    oracle-checkable baseline (a doc is a dup iff it appears as the
    HIGHER id of a qualifying pair). At corpus scale the identical
    keep/drop semantics run off `l04_simjoin_lsh`'s banded
    candidates (cosine verified exactly after the band join), which
    this query is the correctness oracle for. The dup-id set (≤ N
    ids, no vectors) broadcasts into the documents-side anti-probe,
    so the wide ``text`` column never shuffles.
    """
    from hetnetdb_spark.pipeline.similarity import exact_pairs

    (emb,) = load_tables(spark, sf_dir, "embeddings")
    (documents,) = load_tables(spark, sf_dir, "documents")
    dup_ids = (
        exact_pairs(spark, emb, EMB_TAU)
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return (
        documents.join(F.broadcast(dup_ids), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("is_dup").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.min(F.when(F.col("is_dup").isNull(), F.col("doc_id"))).alias(
                "first_kept_id"
            ),
        )
    )


# --------------------------------------------------------------------------
# L11 — near-dup clusters via connected components (iterative)
# --------------------------------------------------------------------------

L11_ORACLE = f"""
WITH RECURSIVE pairs AS (
    SELECT a.vec_id AS a_id, b.vec_id AS b_id
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND({{dot}}, 6) >= {EMB_TAU}
),
edges AS (
    SELECT a_id AS src, b_id AS dst FROM pairs
    UNION ALL
    SELECT b_id, a_id FROM pairs
),
reach(id, root) AS (
    SELECT vec_id, vec_id FROM embeddings
    UNION
    SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id
)
SELECT CAST(root AS BIGINT)      AS component_id,
       CAST(COUNT(*) AS BIGINT)  AS n_members
FROM (SELECT id, MIN(root) AS root FROM reach GROUP BY id)
GROUP BY root
"""

#: Bug guard, not a scale bound: with pointer doubling each round
#: roughly doubles label reach, so 64 rounds covers components of
#: diameter ~2**64. (The pre-round-4 plain-propagation version needed
#: O(diameter) rounds and raised at 25 — a chain-shaped component 26
#: deep killed the job.)
L11_MAX_ITERS = 64


def _min_label_assignments(
    pairs: DataFrame, nodes: DataFrame, max_iters: int = L11_MAX_ITERS
) -> DataFrame:
    """Min-label propagation with pointer doubling to a fixpoint.

    ``pairs`` is the undirected edge list as (a_id, b_id); ``nodes``
    the (id) universe. Returns per-node (id, label) assignments.

    Each round runs TWO contractions:

    1. *neighbor-min* — every node takes the min label over its graph
       neighborhood (edge join + min-aggregate): the plain Pregel step,
       which alone converges in O(component diameter) rounds;
    2. *pointer jump* — every node then takes its label's OWN label
       (labels self-join on ``label == id``): the label-of-label
       doubling step from the large-star/small-star family, which
       compresses label chains geometrically.

    Together reach roughly doubles per round, so a chain-shaped
    component of diameter d converges in O(log d) rounds — a 100 TB
    near-dup graph with a pathological 10^6-long chain needs ~20
    rounds, not 10^6 (``tests/test_dedup_components.py`` pins this
    with a 240-node path that must converge within 12 rounds).

    Invariant ``label(u) <= u`` holds throughout (labels start at id
    and only ever decrease), so the fixpoint is exactly one label per
    component: the component-min id. Convergence is checked with ONE
    scalar per round — the label sum; labels are monotone decreasing,
    so an unchanged sum IS the fixpoint, and a single-scan aggregate
    is cheaper than a changed-rows anti-join + isEmpty. Lineage is
    truncated per round with ``localCheckpoint`` (executor-memory
    backed — fine for this loop's minutes-scale rounds; a multi-hour
    production run on a real cluster should use reliable
    ``checkpoint()`` so a lost executor replays one round, not all).
    """
    edges = pairs.union(pairs.select(F.col("b_id"), F.col("a_id"))).toDF("src", "dst")
    edges = edges.localCheckpoint(eager=True)  # reused every round

    labels = nodes.select("id", F.col("id").alias("label")).localCheckpoint(eager=True)
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_min"))
        )
        hop = labels.join(nbr_min, labels.id == nbr_min.dst, "left").select(
            "id",
            F.least(F.col("label"), F.coalesce("nbr_min", F.col("label"))).alias(
                "label"
            ),
        )
        # Pointer jump: label(u) <- label(label(u)). Every label value
        # is a node id, so the left join always hits; the left-outer +
        # coalesce guards the degenerate empty-nodes case only.
        jump = hop.select(F.col("id").alias("jid"), F.col("label").alias("jlabel"))
        labels = (
            hop.join(jump, hop.label == jump.jid, "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("jlabel", F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint(eager=True)
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(f"CC did not converge in {max_iters} rounds")

    return labels


def _min_label_components(pairs: DataFrame, nodes: DataFrame) -> DataFrame:
    """(component_id, n_members) roll-up of ``_min_label_assignments``."""
    labels = _min_label_assignments(pairs, nodes)
    return labels.groupBy("label").agg(F.count(F.lit(1)).alias("n_members")).select(
        F.col("label").alias("component_id"), "n_members"
    )



@query(
    "l11_dedup_components",
    oracle=L11_ORACLE.format(dot=duck_dot("a.embedding", "b.embedding")),
    impure=True,
)
def l11_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L11 — TRUE near-dup clusters: connected components over the
    cosine ≥ 0.35 similarity graph (vs `l02_embedding_neardup`'s
    greedy keeper, which over-drops when A~B and B~C but A≁C).

    Iterative min-label propagation, all DataFrame ops: each round
    every node takes the min of its own label and its neighbors'
    labels (edge join + min-aggregate), until a fixpoint. The
    convergence check is ONE scalar per round (labels only ever
    decrease, so an unchanged label-sum IS the fixpoint) — the
    driver-side loop is inherent to iterative graph algorithms
    (GraphX/Pregel drive the same loop); per-round work stays fully
    distributed. `localCheckpoint` truncates the growing lineage so
    round N's plan doesn't replay rounds 1..N-1.

    Scale posture: rounds = O(log diameter) via the pointer-doubling
    step in `_min_label_assignments`; each round shuffles |E| (id,
    label) pairs — never vectors or text. At corpus scale the same
    loop runs off the LSH candidate pairs (`l04_simjoin_lsh`)
    instead of the exact triangle. The recursive-CTE oracle
    certifies the whole transitive closure.
    """
    from hetnetdb_spark.pipeline.similarity import exact_pairs

    (emb,) = load_tables(spark, sf_dir, "embeddings")
    pairs = exact_pairs(spark, emb, EMB_TAU).select("a_id", "b_id")
    nodes = emb.select(F.col("vec_id").alias("id"))
    return _min_label_components(pairs, nodes)


# --------------------------------------------------------------------------
# L16 — connected components over LSH candidates (the corpus-scale path)
# --------------------------------------------------------------------------


def _l16_oracle() -> str:
    """Full-oracle twin of l16_components_lsh — inlined-plane LSH
    banding, candidates, and exact verification via the SAME shared
    CTE fragments the l04 oracle uses (`similarity.lsh_banded_sql`
    / `lsh_candidate_cte` / `lsh_verified_pairs_cte` — one
    definition, two oracles), then the recursive-CTE transitive
    closure L11 uses, rolled up to the one-row component summary."""
    from hetnetdb_spark.pipeline.similarity import (
        lsh_banded_sql,
        lsh_candidate_cte,
        lsh_verified_pairs_cte,
    )

    return f"""
WITH RECURSIVE {lsh_banded_sql()},
{lsh_candidate_cte()},
{lsh_verified_pairs_cte()},
edges AS (
    SELECT a_id AS src, b_id AS dst FROM pairs
    UNION ALL
    SELECT b_id, a_id FROM pairs
),
reach(id, root) AS (
    SELECT vec_id, vec_id FROM embeddings
    UNION
    SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id
),
comps AS (
    SELECT root, COUNT(*) AS n_members
    FROM (SELECT id, MIN(root) AS root FROM reach GROUP BY id)
    GROUP BY root
)
SELECT CAST(COUNT(*) AS BIGINT)        AS n_components,
       CAST(SUM(n_members) AS BIGINT)  AS n_nodes,
       CAST(MAX(n_members) AS BIGINT)  AS largest
FROM comps
"""


@query("l16_components_lsh", oracle=_l16_oracle())
def l16_components_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L16 — the corpus-scale twin of `l11_dedup_components`: the
    SAME min-label loop, but fed by the banded hyperplane-LSH
    candidate pairs (cosine verified exactly after the band join)
    instead of the O(N²) triangle. FULL oracle since round 4: the
    banding constants inline into the DuckDB twin (`_l16_oracle`),
    which replays candidates + verification + a recursive-CTE
    closure — the approximation is deterministic, so it verifies.
    Candidate generation shuffles band keys + ids only; the loop
    shuffles (id, label) pairs — nothing quadratic anywhere, which
    is what makes transitive near-dup clustering runnable on a full
    corpus. Recall ≥0.9 on edges means a few low-similarity edges
    go missing, so components can only split, never merge wrongly
    (271 vs the exact graph's 248 at sf0.001, +9%); the golden pins
    the count and the split-only invariant (tests/test_golden.py)."""
    from hetnetdb_spark.pipeline.similarity import (
        SIM_THRESHOLD,
        banded_keys,
        dot as sim_dot,
    )

    (emb,) = load_tables(spark, sf_dir, "embeddings")
    banded = banded_keys(emb)
    cand = band_candidates(banded, id_col="vec_id")
    ea = emb.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb"))
    eb = emb.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb"))
    pairs = (
        cand.join(ea, "a_id")
        .join(eb, "b_id")
        .filter(r6(sim_dot(F.col("a_emb"), F.col("b_emb"))) >= SIM_THRESHOLD)
        .select("a_id", "b_id")
    )
    comps = _min_label_components(pairs, emb.select(F.col("vec_id").alias("id")))
    return comps.agg(
        F.count(F.lit(1)).alias("n_components"),
        F.sum("n_members").cast("long").alias("n_nodes"),
        F.max("n_members").cast("long").alias("largest"),
    )


# --------------------------------------------------------------------------
# L23 — blocked fuzzy-match join (edit-distance dedup for near-identical rows)
# --------------------------------------------------------------------------

L23_ORACLE = """
WITH corrupted AS (
    SELECT doc_id + 300000 AS doc_id,
           'Z' || substr(text, 2) AS text
    FROM documents WHERE doc_id % 10 = 0
),
universe AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id, text FROM corrupted
),
blocked AS (
    SELECT doc_id, text, substr(text, 5, 16) AS block_key FROM universe
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
FROM blocked a
JOIN blocked b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
WHERE levenshtein(a.text, b.text) <= 2
ORDER BY a_id, b_id
"""


@query("l23_fuzzy_join", oracle=L23_ORACLE)
def l23_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-extension — fuzzy-match join: find near-identical record
    pairs (edit distance ≤ 2) without the O(N²) cross join, the
    record-linkage/dedup primitive for titles, names, and
    boilerplate variants.

    A deterministic typo corpus (every 10th doc re-appears under a
    new id with its first character replaced) guarantees true
    matches exist and pins recall: every injected pair must
    surface. Blocking: candidates must agree exactly on
    text[5:20] — a window the injected edit cannot touch — so the
    equi-join on the block key replaces the cross join; Levenshtein
    (JVM built-in, codegen) verifies candidates exactly. This is
    the same block-then-verify shape as the LSH joins (L2/L4) with
    a positional q-gram as the cheap blocking hash. At corpus
    scale the block key shuffles 16-byte prefixes, and a skewed
    block (boilerplate prefix) is AQE's skew-join case — or swap
    the block key for multiple shorter q-gram keys (higher recall,
    more candidates) without touching the verify stage.
    """
    (documents,) = load_tables(spark, sf_dir, "documents")
    documents = spread(documents)  # CPU-bound hash family: see catalog.spread
    corrupted = documents.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(F.lit("Z"), F.expr("substr(text, 2)")).alias("text"),
    )
    universe = documents.select("doc_id", "text").unionByName(corrupted)
    blocked = universe.select(
        "doc_id", "text", F.substring("text", 5, 16).alias("block_key")
    )
    a = blocked.select(
        F.col("block_key"),
        F.col("doc_id").alias("a_id"),
        F.col("text").alias("a_text"),
    )
    b = blocked.select(
        F.col("block_key").alias("b_key"),
        F.col("doc_id").alias("b_id"),
        F.col("text").alias("b_text"),
    )
    dist = F.levenshtein(F.col("a_text"), F.col("b_text"))
    return (
        a.join(b, (F.col("block_key") == F.col("b_key")) & (F.col("a_id") < F.col("b_id")))
        .filter(dist <= 2)
        .select("a_id", "b_id", dist.cast("long").alias("edit_dist"))
        .orderBy("a_id", "b_id")
    )


# --------------------------------------------------------------------------
# L26 — quality-aware canonical selection per near-dup cluster
# --------------------------------------------------------------------------

L26_ORACLE = """
WITH RECURSIVE s AS (
    SELECT doc_id,
           list_distinct(list_transform(
             range(1, GREATEST(len(string_split(text, ' ')) - 2, 1) + 1),
             i -> string_split(text, ' ')[i] || ' ' ||
                  string_split(text, ' ')[i+1] || ' ' ||
                  string_split(text, ' ')[i+2])) AS sh
    FROM documents
    WHERE doc_id < 60 AND len(string_split(text, ' ')) >= 3
),
pairs AS (
    SELECT a.doc_id AS a_id, b.doc_id AS b_id
    FROM s a, s b
    WHERE a.doc_id < b.doc_id
      AND ROUND(CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
                / (len(a.sh) + len(b.sh)
                   - len(list_filter(a.sh, x -> list_contains(b.sh, x)))), 6) >= 0.5
),
edges AS (
    SELECT a_id AS src, b_id AS dst FROM pairs
    UNION ALL SELECT b_id, a_id FROM pairs
),
reach(id, root) AS (
    SELECT doc_id, doc_id FROM s
    UNION
    SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id
),
lab AS (SELECT id, MIN(root) AS comp FROM reach GROUP BY id),
ranked AS (
    SELECT lab.comp, d.doc_id, d.n_chars,
           row_number() OVER (PARTITION BY lab.comp
                              ORDER BY d.n_chars DESC, d.doc_id) AS rn,
           COUNT(*)     OVER (PARTITION BY lab.comp) AS nm
    FROM lab JOIN documents d ON d.doc_id = lab.id
)
SELECT CAST(comp AS BIGINT)    AS component_id,
       CAST(doc_id AS BIGINT)  AS keeper_id,
       CAST(n_chars AS BIGINT) AS keeper_chars,
       CAST(nm AS BIGINT)      AS n_members
FROM ranked WHERE rn = 1
"""


@query("l26_cluster_keep_best", oracle=L26_ORACLE, impure=True)
def l26_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L26 — the decision step after near-dup clustering: keep ONE
    canonical document per cluster, chosen by quality (longest text,
    doc_id tiebreak), not by arbitrary survivor order. L11 answers
    "which docs are the same"; this answers "which copy survives" —
    the choice that decides what the training set actually contains
    (keep the longest/cleanest copy, drop mirrors and truncations).

    Jaccard ≥ 0.5 pair graph (L2's exact shingle metric, same
    bounded scope) → min-label components (per-node labels from the
    shared Pregel loop) → per-component row_number over the quality
    key. Per-round shuffles carry (id, label) pairs only; the
    quality join brings n_chars — never text — to the rank. At
    corpus scale the pair graph comes from the LSH candidates
    (l04_simjoin_lsh) and the quality key from L9's composite score;
    the selection plan is unchanged.
    """
    (documents,) = load_tables(spark, sf_dir, "documents")
    docs = documents.filter(
        (F.col("doc_id") < 60) & (F.size(F.split(F.col("text"), " ")) >= 3)
    )
    s = shingles(docs, "doc_id")
    a = s.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("a_sh"))
    b = s.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("b_sh"))
    inter = F.size(F.array_intersect(F.col("a_sh"), F.col("b_sh")))
    union = F.size(F.col("a_sh")) + F.size(F.col("b_sh")) - inter
    pairs = (
        a.join(F.broadcast(b), F.col("a_id") < F.col("b_id"))
        .filter(r6(inter.cast("double") / union.cast("double")) >= 0.5)
        .select("a_id", "b_id")
    )
    labels = _min_label_assignments(pairs, docs.select(F.col("doc_id").alias("id")))
    ranked = labels.join(
        documents.select("doc_id", "n_chars"), labels.id == F.col("doc_id")
    )
    w = Window.partitionBy("label").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        ranked.withColumn("rn", F.row_number().over(w))
        .withColumn("nm", F.count(F.lit(1)).over(Window.partitionBy("label")))
        .filter(F.col("rn") == 1)
        .select(
            F.col("label").cast("long").alias("component_id"),
            F.col("doc_id").cast("long").alias("keeper_id"),
            F.col("n_chars").cast("long").alias("keeper_chars"),
            F.col("nm").cast("long").alias("n_members"),
        )
    )


# --------------------------------------------------------------------------
# L33 — incremental dedup: today's batch against yesterday's corpus
# --------------------------------------------------------------------------

L33_ORACLE = """
WITH corpus AS (
    SELECT doc_id, md5(text) AS h FROM documents
),
batch AS (
    SELECT doc_id + 200000 AS doc_id, source, md5(text) AS h
    FROM documents WHERE doc_id % 7 = 3
    UNION ALL
    SELECT doc_id + 300000 AS doc_id, source, md5(text || ' v2') AS h
    FROM documents WHERE doc_id % 7 = 4
),
flagged AS (
    SELECT b.doc_id, b.source,
           EXISTS (SELECT 1 FROM corpus c WHERE c.h = b.h) AS is_dup
    FROM batch b
)
SELECT source,
       CAST(COUNT(*) AS BIGINT)                                   AS n_batch,
       CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)    AS n_dropped,
       CAST(SUM(CASE WHEN is_dup THEN 0 ELSE 1 END) AS BIGINT)    AS n_kept,
       CAST(MIN(CASE WHEN NOT is_dup THEN doc_id END) AS BIGINT)  AS first_kept_id
FROM flagged
GROUP BY source
ORDER BY source
"""


@query("l33_incremental_dedup", oracle=L33_ORACLE)
def l33_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L33 — the INCREMENTAL form of l01: dedup a new ingest batch
    against an existing corpus without re-clustering the corpus.
    Daily crawl pipelines run exactly this — yesterday's documents
    are settled, today's batch is checked against them and only
    novel content lands.

    Simulated batch: every 7th doc re-crawled verbatim under a new
    id (must drop) plus every 7th-offset-4 doc with edited text
    (must survive). The dedup key is `md5(text)` — the l01/l10
    engine-portable content-hash discipline.

    Plan: a LEFT SEMI membership probe of the batch against the
    corpus hash set, shuffling 16-byte hashes on both sides, never
    text (corpus text stays columnar at its scan). The probe result
    feeds a per-source rollup. At 100 TB the corpus side reduces to
    its distinct-hash relation — persist it once as a bucketed table
    keyed on the hash and the daily probe becomes a co-located join
    with NO corpus re-shuffle; a Bloom filter over corpus hashes
    (j11 machinery) is the constant-memory pre-filter when even the
    hash relation dwarfs the batch. Spark spells the probe as an
    `is_dup` flag via a left join on the deduplicated corpus-hash
    projection so kept/dropped roll up in one aggregate (semi+anti
    would scan the probe twice)."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    corpus_h = documents.select(F.md5("text").alias("h")).distinct()
    batch = (
        documents.filter(F.col("doc_id") % 7 == 3)
        .select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            "source",
            F.md5("text").alias("h"),
        )
        .unionByName(
            documents.filter(F.col("doc_id") % 7 == 4).select(
                (F.col("doc_id") + 300000).alias("doc_id"),
                "source",
                F.md5(F.concat(F.col("text"), F.lit(" v2"))).alias("h"),
            )
        )
    )
    flagged = batch.join(
        corpus_h.withColumn("is_dup", F.lit(True)), "h", "left"
    ).select("doc_id", "source", F.coalesce("is_dup", F.lit(False)).alias("is_dup"))
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("n_dropped"),
            F.sum(F.when(F.col("is_dup"), 0).otherwise(1)).alias("n_kept"),
            F.min(F.when(~F.col("is_dup"), F.col("doc_id"))).alias("first_kept_id"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# L37 — portable bloom-filter membership probe (approximate l33)
# --------------------------------------------------------------------------

BLOOM_M = 1024  # bits — deliberately small so false positives are observable
BLOOM_K = 2     # hash functions

L37_ORACLE = f"""
WITH corpus AS (SELECT text, md5(text) AS h FROM documents),
bits AS (
    SELECT DISTINCT bit FROM (
        SELECT CAST('0x' || substr(md5(text || ':b0'), 1, 8) AS BIGINT)
               % {BLOOM_M} AS bit FROM corpus
        UNION
        SELECT CAST('0x' || substr(md5(text || ':b1'), 1, 8) AS BIGINT)
               % {BLOOM_M} AS bit FROM corpus
    )
),
batch AS (
    SELECT doc_id + 200000 AS doc_id, source, text
    FROM documents WHERE doc_id % 7 = 3
    UNION ALL
    SELECT doc_id + 300000 AS doc_id, source, text || ' v2' AS text
    FROM documents WHERE doc_id % 7 = 4
),
probe AS (
    SELECT b.doc_id, b.source,
           (CAST('0x' || substr(md5(b.text || ':b0'), 1, 8) AS BIGINT)
                % {BLOOM_M} IN (SELECT bit FROM bits)
            AND
            CAST('0x' || substr(md5(b.text || ':b1'), 1, 8) AS BIGINT)
                % {BLOOM_M} IN (SELECT bit FROM bits)) AS flagged,
           md5(b.text) IN (SELECT h FROM corpus)       AS is_member
    FROM batch b
)
SELECT source,
       CAST(COUNT(*) AS BIGINT)                           AS n_batch,
       CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_true_members,
       CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)   AS n_flagged,
       CAST(SUM(CASE WHEN flagged AND NOT is_member
                     THEN 1 ELSE 0 END) AS BIGINT)        AS n_false_pos,
       CAST(SUM(CASE WHEN is_member AND NOT flagged
                     THEN 1 ELSE 0 END) AS BIGINT)        AS n_missed
FROM probe
GROUP BY source
ORDER BY source
"""


@query("l37_portable_bloom_probe", oracle=L37_ORACLE)
def l37_portable_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L37 — l33's membership probe at the scale where even the
    16-byte hash set is too big to ship: the corpus compresses to a
    BLOOM_M-bit bloom filter (1024 bits here, BLOOM_K=2 md5-derived
    hash functions — the engine-PORTABLE family, same argument as the r5
    minhash upgrade, so DuckDB replays the filter bit-for-bit and
    the false positives are *oracle-checked*, not just bounded).
    The m is deliberately tiny so FPs are observable; production
    sizes m for the target rate and the plan is unchanged.

    Plan: the set-bit table (≤ m rows) is the ONLY corpus artifact
    the probe touches — it broadcasts, so a daily batch probes
    map-side with zero corpus re-scan and zero shuffle of batch
    text; the exact-membership column (the bloom's ground truth)
    exists here for the accounting and at 100 TB is what you
    consult only for flagged rows (FP-rate × batch rows instead of
    batch rows). n_missed is structurally zero — a bloom filter has
    no false negatives — and the oracle pins that as a hard column,
    not a comment."""
    (documents,) = load_tables(spark, sf_dir, "documents")

    def bit(col: Column, salt: str) -> Column:
        return (
            F.conv(F.substring(F.md5(F.concat(col, F.lit(salt))), 1, 8), 16, 10)
            .cast("long")
            % BLOOM_M
        )

    bits = (
        documents.select(bit(F.col("text"), ":b0").alias("bit"))
        .unionAll(documents.select(bit(F.col("text"), ":b1").alias("bit")))
        .distinct()
    )
    corpus_h = documents.select(F.md5("text").alias("h")).distinct()

    batch = (
        documents.filter(F.col("doc_id") % 7 == 3)
        .select(
            (F.col("doc_id") + 200000).alias("doc_id"), "source", "text"
        )
        .unionAll(
            documents.filter(F.col("doc_id") % 7 == 4).select(
                (F.col("doc_id") + 300000).alias("doc_id"),
                "source",
                F.concat(F.col("text"), F.lit(" v2")).alias("text"),
            )
        )
    )
    b0 = bits.select(F.col("bit").alias("hit0"))
    b1 = bits.select(F.col("bit").alias("hit1"))
    probed = (
        batch.withColumn("p0", bit(F.col("text"), ":b0"))
        .withColumn("p1", bit(F.col("text"), ":b1"))
        .withColumn("h", F.md5("text"))
        .join(F.broadcast(b0), F.col("p0") == F.col("hit0"), "left")
        .join(F.broadcast(b1), F.col("p1") == F.col("hit1"), "left")
        .join(
            F.broadcast(corpus_h.withColumn("member", F.lit(1))), "h", "left"
        )
        .select(
            "source",
            (F.col("hit0").isNotNull() & F.col("hit1").isNotNull()).alias(
                "flagged"
            ),
            F.col("member").isNotNull().alias("is_member"),
        )
    )
    t = lambda c: F.sum(c.cast("long"))  # noqa: E731
    return (
        probed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            t(F.col("is_member")).alias("n_true_members"),
            t(F.col("flagged")).alias("n_flagged"),
            t(F.col("flagged") & ~F.col("is_member")).alias("n_false_pos"),
            t(F.col("is_member") & ~F.col("flagged")).alias("n_missed"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# L59 — incremental near-dup: batch probes a persisted MinHash index
# --------------------------------------------------------------------------


def _l59_oracle() -> str:
    mh_cols = ",\n           ".join(
        f"list_min(list_transform(sh, x -> {_mh_hash_duck(j)})) AS mh{j}"
        for j in range(N_HASHES)
    )
    band_rows = "\n    UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        + " || ',' || ".join(
            f"CAST(mh{b * ROWS_PER_BAND + r} AS VARCHAR)"
            for r in range(ROWS_PER_BAND)
        )
        + " AS bucket FROM mh"
        for b in range(N_BANDS)
    )
    return f"""
WITH s AS (
    SELECT doc_id, {_SHINGLE_DUCK} AS sh FROM documents
),
mh AS (
    SELECT doc_id,
           {mh_cols}
    FROM s
),
banded AS (
    {band_rows}
),
cand AS (
    SELECT DISTINCT b.doc_id AS batch_id, i.doc_id AS index_id
    FROM banded b JOIN banded i
      ON b.band_id = i.band_id AND b.bucket = i.bucket
    WHERE b.doc_id % 10 = 0 AND i.doc_id % 10 <> 0
),
hs AS (
    SELECT doc_id,
           list_distinct(list_transform(sh, x -> {_mh_hash_duck(99)})) AS sh
    FROM s
),
verified AS (
    SELECT c.batch_id, c.index_id
    FROM cand c
    JOIN hs sa ON sa.doc_id = c.batch_id
    JOIN hs sb ON sb.doc_id = c.index_id
    WHERE CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS DOUBLE)
          / (len(sa.sh) + len(sb.sh)
             - len(list_filter(sa.sh, x -> list_contains(sb.sh, x))))
          >= {JACCARD_THRESHOLD}
)
SELECT d.doc_id,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n_candidates,
       CAST(COALESCE(v.n, 0) AS BIGINT) AS n_matches,
       COALESCE(v.n, 0) > 0             AS is_near_dup
FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
LEFT JOIN (SELECT batch_id, COUNT(*) AS n FROM cand GROUP BY batch_id) c
       ON c.batch_id = d.doc_id
LEFT JOIN (SELECT batch_id, COUNT(*) AS n FROM verified GROUP BY batch_id) v
       ON v.batch_id = d.doc_id
ORDER BY d.doc_id
"""


@query("l59_minhash_index_probe", oracle=_l59_oracle())
def l59_minhash_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L59 — incremental NEAR-dup: an arriving batch (doc_id % 10
    = 0, modeling a daily ingest) probes the persisted corpus
    MinHash index (everything else) through the banded LSH keys —
    l33's incremental-membership idea lifted from exact hashes to
    fuzzy similarity, which is the shape production corpora actually
    run: global all-pairs near-dup is a one-time backfill (l02);
    every day after is batch-vs-index.

    Per batch doc the report is (candidate count, verified-match
    count, near-dup flag) with zero-candidate docs preserved via the
    left join — admission decisions need the explicit "no collision"
    row, not an absent one. Same portable md5 hash family, banding
    (8×4), and collision-exact hashed-Jaccard verification as l02
    (shared
    `_banded_signatures` builder), so the DuckDB twin replays the
    whole pipeline.

    Scale posture: the index side's band keys are computed ONCE and
    persisted in production (bucketed on (band_id, bucket) —
    l33's co-located-probe layout); the daily cost is hashing the
    BATCH (small) plus an equi-join against the index keys — shuffle
    carries (band key, id) pairs only, and with a bucketed index
    only the batch side moves. Never N², never a corpus re-scan."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    documents = spread(documents)  # CPU-bound hash family: see catalog.spread
    banded = _banded_signatures(shingles(documents, "doc_id"))

    probe = banded.filter(F.col("doc_id") % 10 == 0).select(
        "band_id", "bucket", F.col("doc_id").alias("batch_id")
    )
    index = banded.filter(F.col("doc_id") % 10 != 0).select(
        "band_id", "bucket", F.col("doc_id").alias("index_id")
    )
    cand = (
        probe.join(index, ["band_id", "bucket"])
        .select("batch_id", "index_id")
        .dropDuplicates(["batch_id", "index_id"])
        # One signature pass per execution (the l02-r13 discipline):
        # the pair list is the smallest relation here; checkpoint it
        # so its three consumers don't re-run the hash family.
        .localCheckpoint(eager=True)
    )
    # Same discipline as l02 (r13): never join the corpus-sized
    # shingle relation — semi-join the corpus down to candidate
    # members first (ids only, AQE-sized at runtime), recompute
    # shingles for that sliver, and only candidate-sized
    # shingle-bearing inputs reach a join.
    cand_ids = (
        cand.select(
            F.explode(
                F.array(F.col("batch_id"), F.col("index_id"))
            ).alias("doc_id")
        )
        .distinct()
    )
    # hv BEFORE the semi-join (the r14 order fix, see l02): the
    # static SMJ spelling of the semi-join must exchange (doc_id,
    # hv), never (doc_id, text).
    docs_cand = hashed_shingles(documents).join(cand_ids, "doc_id", "left_semi")
    sh_a = docs_cand.select(F.col("doc_id").alias("batch_id"), F.col("hv").alias("a_hv"))
    sh_b = docs_cand.select(F.col("doc_id").alias("index_id"), F.col("hv").alias("b_hv"))
    inter = F.size(F.array_intersect(F.col("a_hv"), F.col("b_hv")))
    union = F.size(F.col("a_hv")) + F.size(F.col("b_hv")) - inter
    # Inner joins on ids that exist by construction preserve every
    # cand row, so ONE joined frame yields both the candidate count
    # and the verified count per batch doc (the l02-r13 one-aggregate
    # discipline — no third instantiation of the signature subtree).
    flags = (
        cand.join(sh_a.hint("merge"), "batch_id")
        .join(sh_b.hint("merge"), "index_id")
        .select(
            "batch_id",
            (inter.cast("double") / union.cast("double") >= JACCARD_THRESHOLD)
            .cast("long")
            .alias("ok"),
        )
    )
    batch_docs = documents.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    tallies = flags.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("nc"), F.sum("ok").alias("nm")
    )
    return (
        batch_docs.join(tallies, batch_docs["doc_id"] == tallies["batch_id"], "left")
        .drop("batch_id")
        .select(
            "doc_id",
            F.coalesce("nc", F.lit(0)).cast("bigint").alias("n_candidates"),
            F.coalesce("nm", F.lit(0)).cast("bigint").alias("n_matches"),
            (F.coalesce("nm", F.lit(0)) > 0).alias("is_near_dup"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# L81 — incremental MinHash index MAINTENANCE (apply a corpus CDC)
# --------------------------------------------------------------------------

#: Checksum modulus: band-key hashes are 60-bit; summing them raw
#: overflows BIGINT at corpus scale, so each row contributes
#: h % L81_MOD (< 1e9; sums stay far inside 2^63 at any fixture SF).
L81_MOD = 1_000_000_007


def _l81_oracle() -> str:
    mh_cols = ",\n           ".join(
        f"list_min(list_transform(sh, x -> {_mh_hash_duck(j)})) AS mh{j}"
        for j in range(N_HASHES)
    )
    band_rows = "\n    UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        + " || ',' || ".join(
            f"CAST(mh{b * ROWS_PER_BAND + r} AS VARCHAR)"
            for r in range(ROWS_PER_BAND)
        )
        + " AS bucket FROM mh"
        for b in range(N_BANDS)
    )
    row_hash = _mh_hash_duck(777, "bucket || '|' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH post AS (
    SELECT doc_id, text FROM documents
    WHERE doc_id % 10 <> 0 AND doc_id % 7 <> 3
    UNION ALL
    SELECT -doc_id, text FROM documents WHERE doc_id % 7 = 2
),
s AS (
    SELECT doc_id, {_SHINGLE_DUCK} AS sh FROM post
),
mh AS (
    SELECT doc_id,
           {mh_cols}
    FROM s
),
banded AS (
    {band_rows}
)
SELECT CAST(band_id AS INTEGER)          AS band_id,
       CAST(COUNT(*) AS BIGINT)          AS n_rows,
       CAST(COUNT(DISTINCT bucket) AS BIGINT) AS n_buckets,
       CAST(SUM({row_hash} % {L81_MOD}) AS BIGINT) AS checksum
FROM banded
GROUP BY band_id
ORDER BY band_id
"""


def _l81_maintained(
    spark: SparkSession, documents: DataFrame, store: str
) -> DataFrame:
    """The l81 maintenance subtree, factored so the plan test can pin
    its shape directly: takedowns leave the STORED gen1 band keys by
    an id anti-join; arrivals' band keys are hashed from the delta
    rows only. Exactly two parquet scans — the stored index and the
    documents scan the arrival filter prunes — never a corpus-wide
    re-hash (tests/test_plans.py::test_l81_maintenance_reads_store)."""
    takedowns = documents.filter(
        (F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 7 == 3)
    ).select("doc_id")
    arrivals = documents.filter(F.col("doc_id") % 7 == 2).select(
        (-F.col("doc_id")).alias("doc_id"), "text"
    )
    add_keys = _banded_signatures(shingles(arrivals, "doc_id"))
    stored = spark.read.parquet(os.path.join(store, "gen1"))
    return stored.join(takedowns, "doc_id", "left_anti").unionByName(add_keys)


@query("l81_index_maintenance", oracle=_l81_oracle(), impure=True)
def l81_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L81 (r15) — the WRITE side of l59's incremental story: apply
    a corpus CDC to the PERSISTED band-key index without touching
    the unchanged corpus. l59 probes a (re)computed index; a
    production corpus also churns — docs get taken down (license,
    opt-out) and new docs arrive — and re-running the l02 backfill
    per churn cycle is the O(corpus) cost this operator removes.

    Build phase (the one-time backfill, allowed to hash everything):
    the index corpus (doc_id % 10 != 0, l59's split) is banded
    (shared `_banded_signatures`, 32-hash/8x4) and persisted as
    gen1. The CDC: takedowns = index docs with doc_id % 7 == 3;
    arrivals = every doc_id % 7 == 2 re-ingested under a fresh
    (negated — SF-collision-free, the s46 r15 lesson) id.
    Maintenance phase — which reads ONLY the stored gen1 and the
    ARRIVAL docs: takedowns leave by a broadcast-able anti-join on
    doc_id (band keys never recomputed for survivors); arrivals'
    band keys are hashed from just the delta rows and appended;
    the maintained index persists as gen2.

    The output reads gen2 back and summarizes per band (row count,
    distinct buckets, order-free content checksum = sum of a
    portable 60-bit row hash mod 1e9+7), and the ORACLE computes
    the same summary from a FULL REBUILD over the post-CDC corpus —
    the maintenance-equals-rebuild equivalence that makes
    incremental maintenance trustworthy (banding is per-doc
    independent, so delete+append must commute with rebuild; this
    pins it). Plan test: the maintenance subtree scans the stored
    index, not a re-derivation (tests/test_plans.py).

    Scale posture: maintenance cost is O(|delta| hashing + |index|
    anti-join on ids); the anti-join shuffles (band key rows x id)
    only when the takedown list outgrows broadcast, and a
    (band_id, bucket)-bucketed store localizes the append. Never a
    corpus re-hash, never N^2.
    """
    (documents,) = load_tables(spark, sf_dir, "documents")
    documents = spread(documents)  # CPU-bound hash family: see catalog.spread
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    store = os.path.join(SCRATCH, f"l81_index_{tag}")

    # ---- build + persist gen1 (one-time backfill) ----
    idx_docs = shingles(documents.filter(F.col("doc_id") % 10 != 0), "doc_id")
    _banded_signatures(idx_docs).write.mode("overwrite").parquet(
        os.path.join(store, "gen1")
    )

    # ---- maintenance: stored index + delta only ----
    maintained = _l81_maintained(spark, documents, store)
    maintained.write.mode("overwrite").parquet(os.path.join(store, "gen2"))

    # ---- summary read from the persisted maintained index ----
    row_hash = F.expr(
        _mh_hash_sql(777, "concat(bucket, '|', CAST(doc_id AS STRING))")
    )
    return (
        spark.read.parquet(os.path.join(store, "gen2"))
        .groupBy(F.col("band_id").cast("int").alias("band_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("bucket").alias("n_buckets"),
            F.sum(row_hash % L81_MOD).alias("checksum"),
        )
        .orderBy("band_id")
    )


# --------------------------------------------------------------------------
# L67 — exact-substring duplication profile (Lee et al. granularity)
# --------------------------------------------------------------------------

SUBSTR_K = 40  # chars per gram — the dup-span detection window

L67_ORACLE = f"""
WITH grams AS (
    SELECT doc_id, source, md5(g) AS g
    FROM (
        SELECT doc_id, source,
               UNNEST(CASE WHEN length(text) >= {SUBSTR_K}
                      THEN list_transform(
                               range(1, length(text) - {SUBSTR_K} + 2),
                               p -> substring(text, p, {SUBSTR_K}))
                      ELSE CAST([] AS VARCHAR[]) END) AS g
        FROM documents
    )
),
stats AS (
    SELECT g, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS nd
    FROM grams GROUP BY g
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_positions,
       CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS dup_positions,
       CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS cross_doc_positions,
       ROUND(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
           AS dup_fraction,
       ROUND(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
           AS cross_doc_fraction
FROM grams JOIN stats USING (g)
GROUP BY source
"""


@query("l67_substring_dedup", oracle=L67_ORACLE)
def l67_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L67 — exact-substring duplication profile at character-gram
    granularity: the dedup level BETWEEN whole-document (l01) and
    passage (l34), published as the high-impact one for LM training
    corpora ("Deduplicating Training Data Makes Language Models
    Better", Lee et al. 2022 — their 50-token window, here 40
    chars). Every position's K-char gram is extracted; a position
    is duplicated if its gram occurs anywhere else in the corpus,
    cross-doc if in ≥2 distinct documents. Per source: position
    counts and the duplicated-character fractions a span-cutting
    pass would remove.

    Plan: one explode to |chars| gram rows, grams immediately
    replaced by their md5 (32 hex chars shuffle instead of K text
    chars; production swaps in xxhash64 for an 8-byte key — md5
    here buys cross-engine replay), one hash agg by gram key, one
    equi-join back onto positions (same key, co-partitioned by the
    agg's shuffle), then a |sources|-group agg. Everything linear
    in corpus characters; nothing quadratic anywhere — the
    suffix-array construction of the paper is only needed when the
    window must be *maximal* spans, not fixed-K detection.
    """
    (documents,) = load_tables(spark, sf_dir, "documents")
    documents = spread(documents)  # CPU-bound hash family: see catalog.spread
    n = F.char_length("text")
    grams = documents.select(
        "doc_id",
        "source",
        F.explode(
            F.when(
                n >= SUBSTR_K,
                F.expr(
                    f"transform(sequence(1, char_length(text) - {SUBSTR_K} + 1),"
                    f" p -> substring(text, p, {SUBSTR_K}))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram"),
    ).select("doc_id", "source", F.md5("gram").alias("g"))
    stats = grams.groupBy("g").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.countDistinct("doc_id").alias("nd"),
    )
    # Explicit sort-merge: Catalyst's size estimate for an explode
    # is its CHILD's size (the ~MB parquet scan), so the 300×-larger
    # gram relation looks broadcastable and the planner ships it to
    # the driver — measured blowing spark.driver.maxResultSize at
    # the 30× slope scale (PLANS.md round 7). Merge (not
    # shuffle_hash: the per-partition build map of a corpus-sized
    # stats side OOMed at 30× — SMJ's sorts spill) repartitions both
    # sides on g, reusing the stats groupBy's exchange.
    joined = grams.join(stats.hint("merge"), "g")
    dup = F.when(F.col("cnt") > 1, 1).otherwise(0)
    cross = F.when(F.col("nd") > 1, 1).otherwise(0)
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_positions"),
        F.sum(dup).cast("bigint").alias("dup_positions"),
        F.sum(cross).cast("bigint").alias("cross_doc_positions"),
        r6(F.sum(dup) * F.lit(1.0) / F.count(F.lit(1))).alias("dup_fraction"),
        r6(F.sum(cross) * F.lit(1.0) / F.count(F.lit(1))).alias(
            "cross_doc_fraction"
        ),
    )


# --------------------------------------------------------------------------
# L68 — duplicate-span removal accounting (the action pass over L67)
# --------------------------------------------------------------------------

L68_ORACLE = f"""
WITH grams AS (
    SELECT doc_id, source, p, md5(g) AS g
    FROM (
        SELECT doc_id, source,
               UNNEST(CASE WHEN length(text) >= {SUBSTR_K}
                      THEN range(1, length(text) - {SUBSTR_K} + 2)
                      ELSE CAST([] AS BIGINT[]) END) AS p,
               UNNEST(CASE WHEN length(text) >= {SUBSTR_K}
                      THEN list_transform(
                               range(1, length(text) - {SUBSTR_K} + 2),
                               q -> substring(text, q, {SUBSTR_K}))
                      ELSE CAST([] AS VARCHAR[]) END) AS g
        FROM documents
    )
),
stats AS (
    SELECT g FROM grams GROUP BY g HAVING COUNT(*) > 1
),
hits AS (
    SELECT gr.doc_id, gr.source, gr.p
    FROM grams gr JOIN stats USING (g)
),
flagged AS (
    SELECT doc_id, source, p,
           CASE WHEN p > COALESCE(MAX(p + {SUBSTR_K} - 1) OVER (
                    PARTITION BY doc_id ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -1) + 1
                THEN 1 ELSE 0 END AS is_new
    FROM hits
),
islands AS (
    SELECT doc_id, source, p,
           SUM(is_new) OVER (PARTITION BY doc_id ORDER BY p
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS island
    FROM flagged
),
spans AS (
    SELECT doc_id, source,
           MAX(p) + {SUBSTR_K} - 1 - MIN(p) + 1 AS span_len
    FROM islands GROUP BY doc_id, source, island
),
per_doc AS (
    SELECT doc_id, source, SUM(span_len) AS removed
    FROM spans GROUP BY doc_id, source
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN COALESCE(pd.removed, 0) > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_with_dup,
       CAST(SUM(length(d.text)) AS BIGINT) AS chars_total,
       CAST(SUM(COALESCE(pd.removed, 0)) AS BIGINT) AS chars_removed,
       ROUND(SUM(COALESCE(pd.removed, 0)) * 1.0 / SUM(length(d.text)), 6)
           AS removed_fraction
FROM documents d
LEFT JOIN per_doc pd ON d.doc_id = pd.doc_id AND d.source = pd.source
GROUP BY d.source
"""


@query("l68_dup_span_removal", oracle=L68_ORACLE)
def l68_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L68 — the ACTION pass over l67's measurement: positions whose
    K-char gram repeats anywhere in the corpus become [p, p+K-1]
    char intervals, overlapping-or-adjacent intervals merge into
    maximal spans per document (the classic island build: running
    max of prior span ends → new-island flag → running sum), and the
    per-source accounting reports exactly how many characters a
    span-cutting rewrite would drop — the number that decides
    whether substring dedup is worth a corpus rewrite at 100 TB.

    Plan: the repeated-gram filter is a count over the g window —
    ONE exchange of the corpus-sized gram relation, where the
    agg + self-join spelling paid two plus both SMJ sorts (r16:
    that spill exhausted the 300× corpus's disk; see the inline
    comment); the island build is ONE
    exchange on doc_id serving both window functions and the span
    aggregate (the sessionize pattern applied to char intervals);
    the final join back to `documents` is per-doc (bounded), and the
    output is |sources| rows. The DuckDB twin replays gram hits,
    island merging, and the removal fractions end to end."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    documents = spread(documents)  # CPU-bound hash family: see catalog.spread
    n = F.char_length("text")
    grams = documents.select(
        "doc_id",
        "source",
        F.posexplode(
            F.when(
                n >= SUBSTR_K,
                F.expr(
                    f"transform(sequence(1, char_length(text) - {SUBSTR_K} + 1),"
                    f" q -> substring(text, q, {SUBSTR_K}))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos0", "gram"),
    ).select(
        "doc_id",
        "source",
        (F.col("pos0") + 1).cast("long").alias("p"),
        F.md5("gram").alias("g"),
    )
    # r16: the per-gram duplicate flag is ONE window count over g,
    # not groupBy(g) + SMJ back onto a second gram computation. The
    # agg+join spelling shuffled the corpus-sized gram relation
    # TWICE (agg leg + join leg) and sorted both SMJ sides — at the
    # 300× slope corpus its concurrent spill exhausted >68 GB of
    # local dir and the query could not finish AT ALL, while this
    # spelling peaks at ~22 GB and runs (cold 112 s / min3 99 s).
    # Same membership test (count over the g partition ≡ the agg's
    # count), so rows are identical; fresh-process A/B at 30×:
    # min3 26.3/23.0 → 17.4/15.5 s, and a dead tie at sf0.1 where
    # the shuffle is too small to matter (tools/decompose_l68.py).
    w_g = Window.partitionBy("g")
    hits = (
        grams.withColumn("cnt", F.count(F.lit(1)).over(w_g))
        .filter(F.col("cnt") > 1)
        .select("doc_id", "source", "p")
    )

    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max(F.col("p") + SUBSTR_K - 1).over(w_prev)
    flagged = hits.withColumn(
        "is_new",
        F.when(F.col("p") > F.coalesce(prev_end, F.lit(-1)) + 1, 1).otherwise(0),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = flagged.withColumn("island", F.sum("is_new").over(w_run))
    spans = islands.groupBy("doc_id", "source", "island").agg(
        (F.max("p") + SUBSTR_K - 1 - F.min("p") + 1).alias("span_len")
    )
    per_doc = spans.groupBy("doc_id", "source").agg(
        F.sum("span_len").alias("removed")
    )
    base = documents.select("doc_id", "source", n.cast("long").alias("nc"))
    removed = F.coalesce("removed", F.lit(0))
    # per_doc is one row per dup-carrying document — corpus-sized,
    # so it must never broadcast; shuffle join on the doc key.
    return (
        base.join(per_doc.hint("merge"), ["doc_id", "source"], "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(removed > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("docs_with_dup"),
            F.sum("nc").alias("chars_total"),
            F.sum(removed).cast("bigint").alias("chars_removed"),
            r6(F.sum(removed) * F.lit(1.0) / F.sum("nc")).alias(
                "removed_fraction"
            ),
        )
    )


# --------------------------------------------------------------------------
# L70 — MinHash banding recall curve vs exact Jaccard (the S-curve)
# --------------------------------------------------------------------------

L70_J_MIN = 0.4
L70_N_PLANT = 64
L70_PLANT_OFF = 20_000_000

#: Variant text = a prefix of the source doc's words, the kept
#: fraction varying 0.45..0.75 by doc_id — a prefix variant shares
#: exactly its own shingles with the source, so J ≈ kept fraction
#: and the planted pairs populate the S-curve's MIDDLE buckets
#: (the natural corpus only has pairs at J ≥ 0.8). Spelled once,
#: spelled identically in both engines.
_L70_VARIANT_SQL = (
    "concat_ws(' ', slice(split(text, ' '), 1, "
    "greatest(CAST(FLOOR(size(split(text, ' ')) "
    "* (0.45 + (doc_id % 7) * 0.05)) AS INT), 3)))"
)
_L70_VARIANT_DUCK = (
    "array_to_string(list_slice(string_split(text, ' '), 1, "
    "GREATEST(CAST(FLOOR(len(string_split(text, ' ')) "
    "* (0.45 + (doc_id % 7) * 0.05)) AS BIGINT), 3)), ' ')"
)

L70_ORACLE_TAIL = f"""
posts AS (
    SELECT doc_id, UNNEST(sh) AS g FROM s
),
true_cand AS (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM posts a JOIN posts b ON a.g = b.g AND a.doc_id < b.doc_id
),
jac AS (
    SELECT tc.a_id, tc.b_id,
           ROUND(CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))
                      AS DOUBLE)
                 / (len(sa.sh) + len(sb.sh)
                    - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))),
                 6) AS j
    FROM true_cand tc
    JOIN s sa ON sa.doc_id = tc.a_id
    JOIN s sb ON sb.doc_id = tc.b_id
),
truth AS (SELECT * FROM jac WHERE j >= {L70_J_MIN})
SELECT LEAST(CAST(FLOOR(t.j * 10) AS BIGINT), 9) / 10.0 AS j_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       CAST(SUM(CASE WHEN c.a_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_recovered,
       ROUND(SUM(CASE WHEN c.a_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6) AS recall
FROM truth t
LEFT JOIN cand c ON c.a_id = t.a_id AND c.b_id = t.b_id
GROUP BY j_bucket
"""


def _l70_oracle() -> str:
    return f"""
WITH docs_all AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {L70_PLANT_OFF} AS doc_id,
           {_L70_VARIANT_DUCK} AS text
    FROM documents WHERE doc_id < {L70_N_PLANT}
),
{_mh_cand_ctes(src="docs_all")},
{L70_ORACLE_TAIL}
"""


@query("l70_minhash_recall_curve", oracle=_l70_oracle())
def l70_minhash_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L70 — the measured S-curve of the 8-band × 4-row MinHash
    banding: per exact-Jaccard bucket, how many true pairs exist
    and what fraction the banding surfaced as candidates. The
    theory says P[candidate] = 1-(1-j⁴)⁸ (≈0.40 at j=0.5, ≈0.96 at
    j=0.7, →1 at j≥0.8); this query turns that curve into a checked
    contract over the real corpus, so a hash-family or banding
    regression shows up as a recall drop in a specific bucket —
    l69's quality-audit posture applied to the text side.

    The natural corpus only holds pairs at J ≥ 0.8, so the curve's
    MIDDLE buckets are populated by planting: the first 64 docs get
    a prefix variant keeping 0.45..0.75 of their words (varying by
    doc_id) — a prefix shares exactly its own shingles with its
    source, so the planted pair's Jaccard ≈ the kept fraction, and
    the measured curve spans the transition region where
    1-(1-j⁴)⁸ actually bends (l04_tuned's planted-ground-truth
    method on the text side).

    The exact leg is NOT an all-pairs join: any pair with J > 0
    shares ≥1 shingle, so the shingle inverted index generates a
    complete candidate set for every bucket ≥ {L70_J_MIN} — pair
    volume is Σ df(shingle)² (bounded by max df 25 at sf0.1, ≈1.4M
    postings-pairs), linear-ish in corpus size at bounded df, and
    exact Jaccard runs only on index candidates. The banding leg
    reuses `_banded_signatures` verbatim; the DuckDB twin shares
    the l02 CTE chain (`_mh_cand_ctes`) so operator and audit
    cannot diverge."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    documents = spread(documents)  # CPU-bound hash family: see catalog.spread
    variants = documents.filter(F.col("doc_id") < L70_N_PLANT).select(
        (F.col("doc_id") + L70_PLANT_OFF).alias("doc_id"),
        F.expr(_L70_VARIANT_SQL).alias("text"),
    )
    docs_all = documents.select("doc_id", "text").unionByName(variants)
    docs = shingles(docs_all, "doc_id")

    posts = docs.select("doc_id", F.explode("sh").alias("g"))
    pa = posts.select("g", F.col("doc_id").alias("a_id"))
    pb = posts.select("g", F.col("doc_id").alias("b_id"))
    # sort-merge: posts is an explode (~100 shingles/doc), so its
    # size estimate is the parquet scan's — the l67
    # explode-underestimation trap; a "broadcastable" posts side
    # would ship the whole posting list to the driver (and
    # shuffle_hash's per-partition build map OOMs at scale — the
    # l67 30× measurement).
    # Exact Jaccard WITHOUT re-joining the shingle arrays onto the
    # pairs: shingles are array_distinct (set semantics), so the
    # posting join's per-pair row count IS |A ∩ B| — aggregate it
    # instead of dropDuplicates, then join two scalar set sizes.
    # (Round-10 honest-bench rewrite: the previous form shipped two
    # ~100-element arrays per candidate pair through the joins and
    # ran array_intersect per pair — the arrays never need to leave
    # the posting index.)
    inter_counts = (
        pa.join(pb.hint("merge"), "g")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = docs.select("doc_id", F.size("sh").alias("n_sh"))
    truth = (
        inter_counts.join(
            sizes.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("a_n")),
            "a_id",
        )
        .join(
            sizes.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("b_n")),
            "b_id",
        )
        .select(
            "a_id",
            "b_id",
            r6(
                F.col("n_inter").cast("double")
                / (F.col("a_n") + F.col("b_n") - F.col("n_inter")).cast("double")
            ).alias("j"),
        )
        .filter(F.col("j") >= L70_J_MIN)
    )

    banded = _banded_signatures(docs)
    cand = band_candidates(banded, id_col="doc_id", key="bucket").withColumn(
        "hit", F.lit(1)
    )

    bucket = (
        F.least(F.floor(F.col("j") * 10).cast("bigint"), F.lit(9)) / 10.0
    ).alias("j_bucket")
    return (
        truth.join(cand, ["a_id", "b_id"], "left")
        .groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("n_true_pairs"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias(
                "n_recovered"
            ),
            r6(
                F.sum(F.coalesce("hit", F.lit(0))) * F.lit(1.0)
                / F.count(F.lit(1))
            ).alias("recall"),
        )
    )


# --------------------------------------------------------------------------
# L72 — MinHash Jaccard-ESTIMATOR accuracy on planted pairs (l70's twin)
# --------------------------------------------------------------------------

#: |estimate − exact| ceiling for the 32-hash estimator. E[est] = J
#: with σ = sqrt(J(1−J)/32) ≤ 0.0885; the bound is ~3.2σ at the
#: worst-case J = 0.5. Measured maxima on the deterministic planted
#: pairs: 0.186 (sf0.001), 0.193 (sf0.01), 0.227 (sf0.1) — the flag
#: rides the certified output, so estimator drift past the band is
#: a hash FAIL (the a04/a16 "approximate ≠ unverifiable" posture).
L72_ERR_BOUND = 0.28


def _l72_oracle() -> str:
    agree = " + ".join(
        f"CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END"
        for j in range(N_HASHES)
    )
    return f"""
WITH docs_all AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {L70_PLANT_OFF} AS doc_id,
           {_L70_VARIANT_DUCK} AS text
    FROM documents WHERE doc_id < {L70_N_PLANT}
),
{_mh_sig_ctes(src="docs_all")},
pairs AS (
    SELECT a.doc_id AS a_id, ({agree}) / {N_HASHES}.0 AS est
    FROM mh a JOIN mh b ON b.doc_id = a.doc_id + {L70_PLANT_OFF}
    WHERE a.doc_id < {L70_N_PLANT}
),
scored AS (
    SELECT p.a_id, p.est,
           CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))
                AS DOUBLE)
           / (len(sa.sh) + len(sb.sh)
              - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))) AS j
    FROM pairs p
    JOIN s sa ON sa.doc_id = p.a_id
    JOIN s sb ON sb.doc_id = p.a_id + {L70_PLANT_OFF}
)
SELECT LEAST(CAST(FLOOR(j * 10) AS BIGINT), 9) / 10.0 AS j_bucket,
       CAST(COUNT(*) AS BIGINT)    AS n_pairs,
       ROUND(AVG(j), 6)            AS mean_exact_j,
       ROUND(AVG(est), 6)          AS mean_est_j,
       ROUND(AVG(ABS(est - j)), 6) AS mean_abs_err,
       MAX(ABS(est - j)) <= {L72_ERR_BOUND} AS within_bound
FROM scored
GROUP BY j_bucket
ORDER BY j_bucket
"""


@query("l72_minhash_estimate_error", oracle=_l72_oracle())
def l72_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L72 — the ACCURACY half of the MinHash quality contract:
    l70 pins what fraction of true pairs the banding SURFACES
    (recall); this pins how well the signature ESTIMATES Jaccard —
    per exact-J bucket, the mean estimate must track the mean exact
    value and the worst |estimate − exact| must stay inside
    L72_ERR_BOUND (~3.2σ for 32 hashes). A hash-family regression
    that collapses permutation diversity (e.g. the round-5 arity
    bug l70's docstring records — 32 ACCIDENTAL families still
    banded plausibly) moves the estimator's error band immediately,
    even when banding recall survives by coincidence.

    Ground truth is PLANTED, not mined: the same prefix-variant
    corpus as l70 (the first 64 docs keep 0.45..0.75 of their words by
    doc_id), so the pair set is deterministic, spans the estimator's
    hard middle range, and needs no O(N²) leg — 64 known pairs, an
    equi-join on doc_id+offset. The exact-J side runs set ops on 64
    pairs' shingle arrays (bounded, never corpus-scale); the
    signature side reuses `_MH_SIG_SQL`/`_mh_sig_ctes`, ONE
    spelling of the hash family across operator, recall audit, and
    this accuracy audit.

    Scale posture: signatures are the l02 linear pass (spread +
    map-side array_min per hash); the pair join carries 32 longs ×
    64 rows. At corpus scale the planted set stays fixed-size — the
    audit costs one signature pass regardless of N."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    documents = spread(documents)  # CPU-bound hash family: see catalog.spread
    variants = documents.filter(F.col("doc_id") < L70_N_PLANT).select(
        (F.col("doc_id") + L70_PLANT_OFF).alias("doc_id"),
        F.expr(_L70_VARIANT_SQL).alias("text"),
    )
    docs_all = documents.select("doc_id", "text").unionByName(variants)
    sigs = shingles(docs_all, "doc_id").selectExpr("doc_id", "sh", *_MH_SIG_SQL)
    a = sigs.filter(F.col("doc_id") < L70_N_PLANT).select(
        "doc_id",
        F.col("sh").alias("a_sh"),
        *[F.col(f"mh{j}").alias(f"amh{j}") for j in range(N_HASHES)],
    )
    b = sigs.filter(F.col("doc_id") >= L70_PLANT_OFF).select(
        (F.col("doc_id") - L70_PLANT_OFF).alias("doc_id"),
        F.col("sh").alias("b_sh"),
        *[F.col(f"mh{j}").alias(f"bmh{j}") for j in range(N_HASHES)],
    )
    agree = sum(
        F.when(F.col(f"amh{j}") == F.col(f"bmh{j}"), 1).otherwise(0)
        for j in range(N_HASHES)
    )
    inter = F.size(F.array_intersect(F.col("a_sh"), F.col("b_sh")))
    union = F.size(F.col("a_sh")) + F.size(F.col("b_sh")) - inter
    scored = (
        a.join(F.broadcast(b), "doc_id")
        .select(
            (agree / F.lit(float(N_HASHES))).alias("est"),
            (inter.cast("double") / union.cast("double")).alias("j"),
        )
    )
    bucket = (
        F.least(F.floor(F.col("j") * 10).cast("bigint"), F.lit(9)) / 10.0
    ).alias("j_bucket")
    err = F.abs(F.col("est") - F.col("j"))
    return (
        scored.groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            r6(F.avg("j")).alias("mean_exact_j"),
            r6(F.avg("est")).alias("mean_est_j"),
            r6(F.avg(err)).alias("mean_abs_err"),
            (F.max(err) <= F.lit(L72_ERR_BOUND)).alias("within_bound"),
        )
        .orderBy("j_bucket")
    )


# --------------------------------------------------------------------------
# L73 — semantic dedup (SemDeDup: k-means clusters → in-cluster cosine prune)
# --------------------------------------------------------------------------

L73_K = 8            # clusters (seeds: the K lowest vec_ids)
L73_TAU = 0.97       # in-cluster cosine drop threshold
L73_PLANT = 48       # planted jittered variants (vec_id < L73_PLANT)
L73_OFF = 100_000    # planted variant id offset
_L73_DIM = 64


def _l73_oracle() -> str:
    """DuckDB replay of the full SemDeDup pipeline: variant planting,
    two cosine k-means assignment rounds (seeded at the K lowest
    vec_ids, centroid components 6dp-rounded so both engines score
    against IDENTICAL doubles), and the in-cluster a<b cosine prune.
    Sequential double-accumulated dots throughout (`duck_dot`)."""
    dot_vc = duck_dot("m.v", "c.c", _L73_DIM)
    dot_ab = duck_dot("a.v", "b.v", _L73_DIM)
    dot_vv = duck_dot("m.v", "m.v", _L73_DIM)
    dot_cc = duck_dot("c.c", "c.c", _L73_DIM)
    return f"""
WITH base AS (
    SELECT vec_id,
           list_transform(range(1, {_L73_DIM} + 1),
                          i -> CAST(embedding[i] AS DOUBLE)) AS v
    FROM embeddings
),
variants AS (
    SELECT vec_id + {L73_OFF} AS vec_id,
           list_transform(range(1, {_L73_DIM} + 1),
               i -> CAST(embedding[i] AS DOUBLE)
                    + CASE WHEN i = (vec_id % {_L73_DIM}) + 1
                           THEN 0.05 + (vec_id % 8) * 0.05
                           ELSE 0.0 END) AS v
    FROM embeddings WHERE vec_id < {L73_PLANT}
),
allv AS (SELECT * FROM base UNION ALL SELECT * FROM variants),
normed AS (
    SELECT vec_id, v, SQRT({duck_dot("allv.v", "allv.v", _L73_DIM)}) AS nrm
    FROM allv
),
seeds AS (
    SELECT vec_id AS k, v AS c, nrm AS cnrm FROM normed
    WHERE vec_id < {L73_K}
),
score1 AS (
    SELECT m.vec_id, c.k,
           ROUND({dot_vc} / (m.nrm * c.cnrm), 6) AS cs
    FROM normed m, seeds c
),
assign1 AS (
    SELECT vec_id, k AS k1 FROM (
        SELECT vec_id, k,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cs DESC, k) AS rn
        FROM score1
    ) WHERE rn = 1
),
comp2 AS (
    SELECT a.k1 AS k, p.pos, ROUND(AVG(m.v[p.pos]), 6) AS cval
    FROM normed m
    JOIN assign1 a USING (vec_id)
    CROSS JOIN (SELECT UNNEST(range(1, {_L73_DIM} + 1)) AS pos) p
    GROUP BY a.k1, p.pos
),
cent2 AS (
    SELECT k, list(cval ORDER BY pos) AS c FROM comp2 GROUP BY k
),
cent2n AS (
    SELECT k, c, SQRT({dot_cc}) AS cnrm FROM cent2 c
),
score2 AS (
    SELECT m.vec_id, c.k,
           ROUND({dot_vc} / (m.nrm * c.cnrm), 6) AS cs
    FROM normed m, cent2n c
),
assign2 AS (
    SELECT vec_id, k AS k2 FROM (
        SELECT vec_id, k,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cs DESC, k) AS rn
        FROM score2
    ) WHERE rn = 1
),
members AS (
    SELECT m.vec_id, m.v, m.nrm, a.k2 FROM normed m JOIN assign2 a USING (vec_id)
),
dropped AS (
    SELECT DISTINCT b.vec_id, b.k2
    FROM members a
    JOIN members b ON a.k2 = b.k2 AND a.vec_id < b.vec_id
    WHERE ROUND({dot_ab} / (a.nrm * b.nrm), 6) >= {L73_TAU}
)
SELECT m.k2                                            AS cluster_id,
       CAST(COUNT(*) AS BIGINT)                        AS n_members,
       CAST(COUNT(d.vec_id) AS BIGINT)                 AS n_dropped,
       CAST(COUNT(*) - COUNT(d.vec_id) AS BIGINT)      AS n_kept,
       CAST(COALESCE(SUM(d.vec_id), 0) AS BIGINT)      AS dropped_id_sum
FROM members m LEFT JOIN dropped d
  ON m.vec_id = d.vec_id AND m.k2 = d.k2
GROUP BY m.k2
ORDER BY cluster_id
"""


@query("l73_semantic_dedup_refined", oracle=_l73_oracle())
def l73_semantic_dedup_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L73 — SemDeDup in the published NEAR-DUPLICATE regime
    (Abbas et al. 2023 run web dedup at cosine ~0.95+), as the
    iterated refinement twin of `l35_semantic_dedup`: l35 certifies
    the one-Lloyd-pass clustering + low-τ (0.35) prune that the
    natural corpus can exercise; this query runs a SECOND Lloyd
    round — centroids recomputed as 6dp-rounded member means and
    every vector re-assigned — and prunes at τ=0.97, a regime the
    natural corpus cannot reach at all (max natural pairwise cosine
    is 0.60), so threshold-straddling variants are planted. The
    k-means refinement step is the repo's "iterative algorithm as
    declarative dataflow" pattern: each round is a broadcast-scored
    assignment plus one grouped aggregation, no driver loop over
    data. Clustering bounds the quadratic pair space (per-cluster
    pairs, never N²; at 100 TB K grows with the corpus so cluster
    size — and the pair join behind it — stays bounded).

    Determinism/replay contract (the repo's "approximate ≠
    unverifiable" posture): seeds are the K lowest vec_ids, TWO
    cosine assignment rounds run against 6dp-ROUNDED centroid
    components (so both engines score identical doubles — double
    sums drift in the last ulp across engines, the a19 lesson),
    assignment ties break toward the lowest cluster id via a
    lexicographic struct-max (no window needed on the Spark side),
    and all dot products are the shared sequential double
    accumulation (`expr.dot` / `duck_dot`). The natural corpus has
    no near-duplicate embeddings (max pairwise cosine 0.60 at
    sf0.1), so 48 jittered variants are planted (one perturbed
    dimension, jitter 0.05–0.40 by vec_id) spanning cosine
    0.92–0.999 against their sources — the τ=0.97 prune then has
    real work on both sides of the threshold. Certified output per
    cluster: member/dropped/kept counts plus the exact BIGINT sum
    of dropped ids — a wrong assignment, a missed drop, or an
    over-drop all break the hash."""
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    variants = (
        base.filter(F.col("vec_id") < L73_PLANT)
        .select(
            (F.col("vec_id") + L73_OFF).alias("vec_id"),
            F.expr(
                f"transform(sequence(1, {_L73_DIM}), i -> element_at(v, i)"
                f" + if(i = (vec_id % {_L73_DIM}) + 1,"
                f" 0.05 + (vec_id % 8) * 0.05, cast(0.0 as double)))"
            ).alias("v"),
        )
    )
    allv = base.unionByName(variants)
    normed = allv.withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))

    def _assign(mem: DataFrame, cents: DataFrame) -> DataFrame:
        """argmax-cosine cluster per vector: lexicographic max over
        (rounded cos, -k) — one hash agg, ties to the lowest k."""
        scored = mem.crossJoin(F.broadcast(cents)).select(
            "vec_id",
            F.struct(
                r6(dot(F.col("v"), F.col("c")) / (F.col("nrm") * F.col("cnrm"))).alias("cs"),
                (-F.col("k")).alias("negk"),
            ).alias("skey"),
        )
        return scored.groupBy("vec_id").agg(
            (-F.max("skey").getField("negk")).cast("bigint").alias("k")
        )

    seeds = normed.filter(F.col("vec_id") < L73_K).select(
        F.col("vec_id").alias("k"), F.col("v").alias("c"), F.col("nrm").alias("cnrm")
    )
    assign1 = _assign(normed, seeds)

    comp2 = (
        normed.join(assign1, "vec_id")
        .select("k", F.explode(F.expr(f"sequence(1, {_L73_DIM})")).alias("pos"), "v")
        .select("k", "pos", F.element_at("v", F.col("pos")).alias("val"))
        .groupBy("k", "pos")
        .agg(r6(F.avg("val")).alias("cval"))
    )
    cent2 = (
        comp2.groupBy("k")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                lambda s: s.getField("cval"),
            ).alias("c")
        )
        .withColumn("cnrm", F.sqrt(dot(F.col("c"), F.col("c"))))
    )
    assign2 = _assign(normed, cent2)

    members = normed.join(assign2, "vec_id").select("vec_id", "v", "nrm", "k")
    a = members.select(
        F.col("k"),
        F.col("vec_id").alias("a_id"), F.col("v").alias("a_v"), F.col("nrm").alias("a_n"),
    )
    b = members.select(
        F.col("k"),
        F.col("vec_id").alias("b_id"), F.col("v").alias("b_v"), F.col("nrm").alias("b_n"),
    )
    dropped = (
        a.join(b, "k")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(
            r6(dot(F.col("a_v"), F.col("b_v")) / (F.col("a_n") * F.col("b_n")))
            >= F.lit(L73_TAU)
        )
        .select("k", F.col("b_id").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(1))
    )
    return (
        members.join(dropped, ["k", "vec_id"], "left")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.coalesce("is_dropped", F.lit(0))).cast("bigint").alias("n_dropped"),
            (F.count(F.lit(1)) - F.sum(F.coalesce("is_dropped", F.lit(0))))
            .cast("bigint").alias("n_kept"),
            F.sum(
                F.when(F.col("is_dropped") == 1, F.col("vec_id")).otherwise(F.lit(0))
            ).cast("bigint").alias("dropped_id_sum"),
        )
        .select(
            F.col("k").alias("cluster_id"),
            "n_members", "n_dropped", "n_kept", "dropped_id_sum",
        )
        .orderBy("cluster_id")
    )


# --------------------------------------------------------------------------
# L79 — end-to-end prep pipeline as ONE declared query (r13 verdict item 8)
# --------------------------------------------------------------------------

#: One bin budget, one spelling: l12's constant (imported lazily at
#: module bottom to keep the pipeline package import-order-free).
from hetnetdb_spark.pipeline.splits import PACK_BUDGET as _L79_PACK_BUDGET  # noqa: E402



#: The l09 gate's language allowlist with dense ids for the packed
#: exact-keeper aggregate (3 low bits of the keeper long; bounded by
#: the gate's own IN-list, never by the corpus).
_L79_LANGS = ("de", "en", "es", "fr")


def _l79_oracle() -> str:
    """Replay of the whole prep funnel: the l09 quality gate, the l01
    min-doc_id exact keeper (grouped by text — the hash-pair device
    is Spark-private; results agree barring a 128-bit xxhash
    collision, the accepted l01 device), the l02 MinHash banding +
    collision-exact hashed-Jaccard verification over the GATED set
    (``_mh_cand_ctes("gated")`` — one spelling of the banding
    family, everywhere), greedy higher-id drop, and the l12 cumsum
    packing — summarized per language so the funnel is one bounded
    frame. Near-dup runs on the gated set, not the exact-kept set:
    identical texts have hashed Jaccard exactly 1.0, so every
    non-keeper exact duplicate is ALSO a verified pair's higher id
    and the greedy drop subsumes exact dedup (final survivor sets
    are provably identical — candidacy depends only on a doc's own
    signature, and any pair through a duplicate has an equal-Jaccard
    pair through its keeper with a smaller id). That subsumption is
    what lets the Spark plan keep raw text out of every exchange."""
    return f"""
WITH gated AS (
    SELECT doc_id, lang, text FROM documents
    WHERE lang IN ('en', 'es', 'de', 'fr')
      AND n_chars BETWEEN 50 AND 5000
      AND len(string_split(text, ' ')) >= 10
      AND CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
          / length(text) < 0.10
),
exact AS (
    SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY text
),
kept AS (
    SELECT g.doc_id, g.lang FROM gated g JOIN exact e USING (doc_id)
),
{_mh_cand_ctes("gated")},
hs AS (
    SELECT doc_id,
           list_distinct(list_transform(sh, x -> {_mh_hash_duck(99)})) AS sh
    FROM s
),
verified AS (
    SELECT c.a_id, c.b_id
    FROM cand c
    JOIN hs sa ON sa.doc_id = c.a_id
    JOIN hs sb ON sb.doc_id = c.b_id
    WHERE CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS DOUBLE)
          / (len(sa.sh) + len(sb.sh)
             - len(list_filter(sa.sh, x -> list_contains(sb.sh, x))))
          >= {JACCARD_THRESHOLD}
),
dropped AS (SELECT DISTINCT b_id AS doc_id FROM verified),
final AS (
    SELECT g.doc_id, g.lang, len(string_split(g.text, ' ')) AS n_tokens
    FROM gated g LEFT JOIN dropped d ON g.doc_id = d.doc_id
    WHERE d.doc_id IS NULL
),
packed AS (
    SELECT lang,
           CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tokens)
                      / {_L79_PACK_BUDGET}) AS BIGINT) AS bin_id,
           n_tokens
    FROM final
),
raw  AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_raw FROM documents GROUP BY lang),
gsum AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_gated FROM gated GROUP BY lang),
ksum AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_exact_kept FROM kept GROUP BY lang),
fsum AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_final,
                CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
         FROM final GROUP BY lang),
bsum AS (SELECT lang, CAST(COUNT(DISTINCT bin_id) AS BIGINT) AS n_bins
         FROM packed GROUP BY lang)
SELECT g.lang, r.n_raw, g.n_gated, k.n_exact_kept, f.n_final, b.n_bins,
       f.total_tokens
FROM gsum g
JOIN raw  r USING (lang)
JOIN ksum k USING (lang)
JOIN fsum f USING (lang)
JOIN bsum b USING (lang)
ORDER BY g.lang
"""


@query("l79_prep_pipeline_e2e", oracle=_l79_oracle())
def l79_prep_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L79 — the whole training-data prep chain as ONE declared,
    oracle-checked query: quality gate (l09's predicates) → exact
    dedup (l01's xxhash-pair min-doc_id keeper) → MinHash near-dup
    drop (l02's banding + collision-exact hashed-Jaccard
    verification, greedy higher-id drop) → sequence packing (l12's
    lang-partitioned cumsum bins) — reported as a per-language
    funnel: raw → gated → exact-kept → final counts, bin count, and
    total packed tokens. PIPELINE_DEMO_r13 measured the stages
    individually; this declares the COMPOSITION so the driver
    certifies end-to-end semantics every round, and
    tests/test_plans.py pins the zero-text-exchange property for
    the composed plan itself.

    The structural move that keeps text out of every exchange: the
    near-dup greedy drop SUBSUMES exact dedup (identical texts have
    hashed Jaccard exactly 1.0, identical signatures land in every
    band together, and any verified pair through a duplicate has an
    equal pair through its smaller-id keeper — so the final survivor
    set over the gated corpus equals kept-then-near-dup; proof
    sketch in `_l79_oracle`). Exact-kept therefore never REJOINS the
    corpus — its funnel count is an l01-style pure aggregate with
    the lang packed into the keeper long's 3 low bits — and the only
    per-doc joins left are the l02 shape: corpus semi-joined to
    CHECKPOINTED candidate ids (materialized → AQE sizes them for
    real) projecting (doc_id, hashed-shingle array), and the final
    anti-join against the distinct dropped ids. The first l79 draft
    did exact dedup as a corpus semi-join on doc_id and the executed
    plan answered with a ReusedExchange shuffling (doc_id, text,
    lang) — exactly the regression the plan pin now forbids.

    Scale posture, stage by stage (measured on the component queries
    at the 300x corpus): gate = codegen'd scan predicate; exact
    keeper shuffles (h1, h2, packed) at 24 B/row; banding shuffles
    (band key, doc_id); verification moves md5-hashed shingle sets
    of candidate members only (the r13 l02 OOM discipline:
    verification joins pinned sort-merge — the semi-join subtree
    below them is sized by its misleading static estimate); packing
    shuffles (lang, doc_id, n_tokens) triples.
    """
    (documents,) = load_tables(spark, sf_dir, "documents")
    text = F.col("text")
    punct_ratio = (
        F.length(F.regexp_replace(text, "[a-z0-9 ]", "")).cast("double")
        / F.length(text)
    )
    gated = documents.filter(
        F.col("lang").isin(*_L79_LANGS)
        & F.col("n_chars").between(50, 5000)
        & (F.size(F.split(text, " ")) >= 10)
        & (punct_ratio < 0.10)
    ).select("doc_id", "lang", "text")

    # exact-keeper funnel count: pure aggregate, no corpus rejoin
    # (l01 discipline + lang packed into the low bits; doc_id is
    # unique so min(packed) IS the min-doc_id row's packed value)
    lang_id = F.array_position(
        F.array(*[F.lit(lg) for lg in _L79_LANGS]), F.col("lang")
    ).cast("long")
    keepers = (
        gated.select(
            F.xxhash64("text").alias("h1"),
            F.xxhash64(F.lit(1), "text").alias("h2"),
            (F.shiftleft(F.col("doc_id"), 3) + lang_id).alias("p"),
        )
        .groupBy("h1", "h2")
        .agg(F.min("p").alias("p"))
    )
    lang_of = F.element_at(
        F.array(*[F.lit(lg) for lg in _L79_LANGS]),
        F.col("p").bitwiseAND(F.lit(7)).cast("int"),
    )
    ksum = (
        keepers.select(lang_of.alias("lang"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_exact_kept"))
    )

    # near-dup over the GATED set (subsumes exact dedup — docstring):
    # banding, candidate pairs, hashed-set verification, greedy drop
    s = shingles(gated, "doc_id")
    banded = _banded_signatures(s)
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    cand_ids = (
        cand.select(
            F.explode(F.array(F.col("a_id"), F.col("b_id"))).alias("doc_id")
        )
        .distinct()
    )
    # hv BEFORE the semi-join (see the l02 r14 order fix): the static
    # SMJ spelling of this semi-join exchanges (doc_id, hv), never
    # (doc_id, text).
    docs_cand = hashed_shingles(gated).join(cand_ids, "doc_id", "left_semi")
    sh_a = docs_cand.select(F.col("doc_id").alias("a_id"), F.col("hv").alias("a_hv"))
    sh_b = docs_cand.select(F.col("doc_id").alias("b_id"), F.col("hv").alias("b_hv"))
    inter = F.size(F.array_intersect(F.col("a_hv"), F.col("b_hv")))
    union = F.size(F.col("a_hv")) + F.size(F.col("b_hv")) - inter
    dropped = (
        cand.join(sh_a.hint("merge"), "a_id")
        .join(sh_b.hint("merge"), "b_id")
        .filter(
            inter.cast("double") / union.cast("double") >= JACCARD_THRESHOLD
        )
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
    )
    # n_tokens BEFORE the anti-join, same reasoning: the static SMJ
    # spelling exchanges (doc_id, lang, n_tokens), never text.
    final = gated.select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    ).join(dropped, "doc_id", "left_anti")

    # packing: l12's cumsum bins over the final survivor set
    w_pack = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = final.withColumn(
        "bin_id",
        F.floor(
            (F.sum("n_tokens").over(w_pack) - F.col("n_tokens"))
            / _L79_PACK_BUDGET
        ),
    )

    raw = documents.groupBy("lang").agg(F.count(F.lit(1)).alias("n_raw"))
    gsum = gated.groupBy("lang").agg(F.count(F.lit(1)).alias("n_gated"))
    fsum = final.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_final"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    bsum = packed.groupBy("lang").agg(
        F.countDistinct("bin_id").alias("n_bins")
    )
    return (
        gsum.join(raw, "lang")
        .join(ksum, "lang")
        .join(fsum, "lang")
        .join(bsum, "lang")
        .select(
            "lang", "n_raw", "n_gated", "n_exact_kept", "n_final", "n_bins",
            "total_tokens",
        )
        .orderBy("lang")
    )
