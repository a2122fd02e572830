"""LLM-op slope program — corpus-growth measurements for the dedup /
similarity family (round 7; extends the events-headliner slope
program in tools/scale_smoke.py).

Why not scale_smoke's replication: copying text/vectors verbatim
makes every replica an EXACT duplicate of its source, so candidate
mass grows quadratically in the replication factor because the DATA
gains quadratic true-duplicate mass — that measures the corpus, not
the operator. This tool grows the corpus the way real corpora grow
— more documents at the same per-document duplicate structure — by
MUTATING each replica to be dissimilar from every other:

- documents: every word in replica i is prefixed ``r{i}-`` (replica
  0 keeps the original text), so every shingle differs across
  replicas and cross-replica Jaccard is exactly 0 while
  within-replica structure is untouched;
- embeddings: replica i's vector is circularly shifted by i
  dimensions (replica 0 unshifted), so cross-replica cosines
  collapse to near-random while within-replica geometry is
  preserved bit-for-bit.

Under that growth law the scale-path claims become measurable:

1. ``l02_minhash_neardup`` — candidate mass should track true
   duplicate mass (≈ F×), NOT pairs (F²×); wall should follow.
2. Min-label connected components (the shared loop behind l11/l16)
   over the MinHash-verified text pairs — per-round work ∝ |E|+|V|,
   rounds ∝ log(diameter): wall ≈ linear.
3. ``l03_knn_ivf`` — broadcast centroid assignment is one linear
   pass; probe cost ∝ nprobe/K of the corpus.
4. The hyperplane-banding candidate LAW (l04/l16's 16×4
   parameters): on direction-random data the banding admits
   ≈ 1-(15/16)¹⁶ ≈ 64% of all pairs, i.e. candidates ≈ 0.32·N² —
   quadratic with a tunable constant. Measured here (band-collision
   count at 1× and 10×) and recorded honestly in PLANS.md: banding
   bounds the JOIN mechanism (hash buckets, never a materialized
   all-pairs), but for direction-random corpora the corpus-scale
   embedding-dedup path is cluster-then-compare (l03 IVF /
   SemDeDup), not hyperplane banding alone.

Usage:  python tools/llm_slope.py            # factors 10, 30
        SPARK_GRAFT_LLM_FACTORS=10 python tools/llm_slope.py
Prints one JSON line per measurement plus a final summary line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from hetnetdb_spark import registry
from hetnetdb_spark.session import get_spark

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
FACTORS = [
    int(s)
    for s in os.environ.get("SPARK_GRAFT_LLM_FACTORS", "10,30").split(",")
    if s
]
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)
DIM = 64
ID_STEP = 100_000_000


def _complete(dst: str) -> bool:
    """A parquet dir counts as built only with its _SUCCESS marker —
    an interrupted prior write must be rebuilt, not silently
    measured as a truncated corpus."""
    return os.path.exists(os.path.join(dst, "_SUCCESS"))


def build(spark, factor: int) -> str:
    """Materialize the mutated-replica corpus for ``factor`` and
    return its directory (skips tables already built to completion)."""
    out = os.path.join(SCRATCH, f"llm_slope_{factor}x")
    os.makedirs(out, exist_ok=True)

    dst = os.path.join(out, "documents.parquet")
    if not _complete(dst):
        docs = spark.read.parquet(os.path.join(BASE, "documents.parquet"))
        copies = []
        for i in range(factor):
            c = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * ID_STEP))
            if i:
                c = c.withColumn(
                    "text", F.regexp_replace("text", r"(\S+)", f"r{i}-$1")
                )
            copies.append(c)
        u = copies[0]
        for c in copies[1:]:
            u = u.unionByName(c)
        u.write.mode("overwrite").parquet(dst)

    dst = os.path.join(out, "embeddings.parquet")
    if not _complete(dst):
        emb = spark.read.parquet(os.path.join(BASE, "embeddings.parquet"))
        copies = []
        for i in range(factor):
            c = emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * ID_STEP))
            s = i % DIM
            if s:
                c = c.withColumn(
                    "embedding",
                    F.expr(
                        f"concat(slice(embedding, {s + 1}, {DIM - s}), "
                        f"slice(embedding, 1, {s}))"
                    ),
                )
            copies.append(c)
        u = copies[0]
        for c in copies[1:]:
            u = u.unionByName(c)
        u.write.mode("overwrite").parquet(dst)
    return out


def timed(fn):
    t0 = time.perf_counter()
    result = fn()
    return round(time.perf_counter() - t0, 3), result


def minhash_row(spark, sf_dir: str):
    fn = registry.QUERIES["l02_minhash_neardup"]
    wall, pdf = timed(lambda: fn(spark, sf_dir).toPandas())
    r = pdf.iloc[0]
    return {
        "wall_s": wall,
        "n_candidates": int(r["n_candidates"]),
        "n_verified": int(r["n_verified"]),
    }


def cc_row(spark, sf_dir: str):
    """Min-label CC over the MinHash-verified TEXT pairs — the
    corpus-scale dedup-clustering composition (l02 edges → shared
    l11/l16 loop)."""
    from hetnetdb_spark.pipeline.dedup import (
        JACCARD_THRESHOLD,
        _banded_signatures,
        _min_label_components,
        shingles,
    )
    from hetnetdb_spark.pipeline.similarity import band_candidates

    docs_full = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    docs = shingles(docs_full, "doc_id")
    banded = _banded_signatures(docs)
    cand = band_candidates(banded, id_col="doc_id", key="bucket")
    sh_a = docs.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("a_sh"))
    sh_b = docs.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("b_sh"))
    inter = F.size(F.array_intersect(F.col("a_sh"), F.col("b_sh")))
    union = F.size(F.col("a_sh")) + F.size(F.col("b_sh")) - inter
    pairs = (
        cand.join(sh_a, "a_id")
        .join(sh_b, "b_id")
        .filter(inter.cast("double") / union.cast("double") >= JACCARD_THRESHOLD)
        .select("a_id", "b_id")
    )
    nodes = docs.select(F.col("doc_id").alias("id"))

    def run():
        return _min_label_components(pairs, nodes).count()

    wall, n_components = timed(run)
    return {"wall_s": wall, "n_components": int(n_components)}


def ivf_row(spark, sf_dir: str):
    fn = registry.QUERIES["l03_knn_ivf"]
    wall, pdf = timed(lambda: fn(spark, sf_dir).toPandas())
    return {"wall_s": wall, "rows": len(pdf)}


def substring_row(spark, sf_dir: str):
    """l67: corpus-level gram-position counts + wall — positions and
    dup mass should both track corpus size under mutated-replica
    growth (per-word prefixes make cross-replica grams distinct)."""
    fn = registry.QUERIES["l67_substring_dedup"]
    wall, pdf = timed(lambda: fn(spark, sf_dir).toPandas())
    return {
        "wall_s": wall,
        "n_positions": int(pdf["n_positions"].sum()),
        "dup_positions": int(pdf["dup_positions"].sum()),
    }


def banding_law_row(spark, sf_dir: str):
    """Band-collision count for the l04/l16 hyperplane banding —
    the measured constant of the quadratic candidate law on
    direction-random data. Count only (never materialized beyond
    the aggregate)."""
    from hetnetdb_spark.pipeline.similarity import band_candidates, banded_keys

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n = emb.count()
    banded = banded_keys(emb)
    cand = band_candidates(banded, id_col="vec_id")

    def run():
        return cand.count()

    wall, n_cand = timed(run)
    all_pairs = n * (n - 1) // 2
    return {
        "wall_s": wall,
        "n_vectors": n,
        "n_candidates": int(n_cand),
        "candidate_rate": round(n_cand / all_pairs, 4),
    }


def tuned_banding_row(spark, sf_dir: str):
    """Candidate rate of the SELECTIVE 8×8 banding regime
    (`l04_simjoin_lsh_tuned`'s parameters) under mutated-replica
    corpus growth — round-9 verdict item: confirm the ~3.6%
    fixture-scale candidate rate is a property of the REGIME (a
    constant rate ⇒ quadratic count with a 20× smaller constant
    than 16×4), not of the fixture. Cross-replica cosines are
    near-random by construction, so the rate should hold ≈
    1-(255/256)⁸ ≈ 3% at every factor."""
    from hetnetdb_spark.pipeline.similarity import (
        SEL_BANDS,
        SEL_BITS,
        band_candidates,
        banded_keys,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n = emb.count()
    banded = banded_keys(emb, n_bands=SEL_BANDS, bits=SEL_BITS)
    cand = band_candidates(banded, id_col="vec_id")
    wall, n_cand = timed(cand.count)
    all_pairs = n * (n - 1) // 2
    return {
        "wall_s": wall,
        "n_vectors": n,
        "n_candidates": int(n_cand),
        "candidate_rate": round(n_cand / all_pairs, 4),
    }


MEASUREMENTS = {
    "l02_minhash_neardup": minhash_row,
    "cc_minhash_components": cc_row,
    "l03_knn_ivf": ivf_row,
    "l67_substring_dedup": substring_row,
    "lsh_banding_law": banding_law_row,
    "lsh_tuned_8x8": tuned_banding_row,
}

#: Comma-separated measurement-name filter for targeted runs.
#: Unknown names fail loudly — a typo must not turn the tool into
#: an exit-0 no-op that looks like a completed measurement.
ONLY = {
    s for s in os.environ.get("SPARK_GRAFT_LLM_ONLY", "").split(",") if s
}
if ONLY:
    unknown = ONLY - set(MEASUREMENTS)
    if unknown:
        raise SystemExit(
            f"SPARK_GRAFT_LLM_ONLY names not in MEASUREMENTS: "
            f"{sorted(unknown)}; valid: {sorted(MEASUREMENTS)}"
        )
    MEASUREMENTS = {k: v for k, v in MEASUREMENTS.items() if k in ONLY}

#: The banding law is quadratic by design on direction-random data;
#: cap its factor so the probe stays countable (10× = 20k vectors,
#: ~128M collision pairs through the count — fine; 30× would push
#: 1.15B through the dedup shuffle for no additional insight).
BANDING_LAW_MAX_FACTOR = 10


def main() -> None:
    registry.load_all()
    spark = get_spark("llm-slope")
    spark.sparkContext.setLogLevel("ERROR")

    report: dict[str, dict[str, dict]] = {m: {} for m in MEASUREMENTS}
    for m, fn in MEASUREMENTS.items():
        report[m]["1x"] = fn(spark, BASE)
        print(json.dumps({m: {"1x": report[m]["1x"]}}), flush=True)
    for factor in FACTORS:
        sf_dir = build(spark, factor)
        for m, fn in MEASUREMENTS.items():
            if m == "lsh_banding_law" and factor > BANDING_LAW_MAX_FACTOR:
                continue
            report[m][f"{factor}x"] = fn(spark, sf_dir)
            print(json.dumps({m: {f"{factor}x": report[m][f"{factor}x"]}}),
                  flush=True)

    for m, rows in report.items():
        base = rows["1x"]["wall_s"]
        rows["slope"] = {
            k: round(v["wall_s"] / base, 2)
            for k, v in rows.items()
            if k != "1x" and isinstance(v, dict)
        }
    print(json.dumps(report), flush=True)


if __name__ == "__main__":
    main()
