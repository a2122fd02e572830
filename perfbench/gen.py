"""Seeded input generator for the benchmark.

Everything the program sees is made here from ``--seed``: the ten base
tables (same schemas and value ranges as the repo's fixtures), the
fresh document batches of ``dedup-batches``, and the SQL literals, CSV
bodies and request order of ``serve-mixed``. The same seed gives
byte-identical files and the same request list.

Row counts follow the fixtures' scale factors (sf0.1: 600k lineitem
rows; sf0.01: 60k), so numbers here are comparable in size, not in
content, with runs over the fixture directories.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per table at scale factor 1 (documents/embeddings do not scale
#: linearly in the fixtures; see ``_doc_rows``).
_ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "es", "de", "zh", "fr")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("large", "hot", "blue", "old", "cold", "red", "small", "new")
P_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)
_DAY_US = 86_400_000_000


def _write(path: str, table: pa.Table) -> None:
    # One row group per file, like the fixtures (catalog.spread's
    # premise); no wall-clock metadata, so files are byte-stable.
    pq.write_table(table, path, row_group_size=max(1, table.num_rows),
                   compression="snappy")


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _days(rng: np.random.Generator, first_day: int, n_days: int, n: int) -> pa.Array:
    us = _EPOCH_1995 + (first_day + rng.integers(0, n_days, n)) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _doc_rows(sf: float) -> tuple[int, int]:
    """(documents, embeddings) rows — the fixtures hold 500/500 up to
    sf0.01 and 5000/2000 at sf0.1."""
    return (5000, 2000) if sf >= 0.1 else (500, 500)


def doc_texts(rng: np.random.Generator, n: int, dup_share: float) -> list[str]:
    """Pseudo-word documents; ``dup_share`` of them are near-copies of
    an earlier document (10% of tokens redrawn, ``dup`` appended)."""
    lengths = rng.integers(10, 101, n)
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    n_dup = int(round(n * dup_share))
    for i in sorted(rng.choice(np.arange(1, n), n_dup, replace=False)):
        src = texts[int(rng.integers(0, i))].split(" ")
        for j in rng.choice(len(src), max(1, len(src) // 10), replace=False):
            src[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[i] = " ".join(src) + " dup"
    return texts


def documents_table(rng: np.random.Generator, n: int, dup_share: float) -> pa.Table:
    texts = doc_texts(rng, n, dup_share)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(rng: np.random.Generator, n: int, dup_share: float) -> pa.Table:
    """L2-normalised 64-d float32 vectors; ``dup_share`` of them are a
    small perturbation of an earlier vector."""
    vecs = rng.standard_normal((n, 64))
    n_dup = int(round(n * dup_share))
    for i in sorted(rng.choice(np.arange(1, n), n_dup, replace=False)):
        vecs[i] = vecs[int(rng.integers(0, i))] + 0.1 * rng.standard_normal(64)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32), pa.int32()),
    })


def base_tables(seed: int, sf: float, out_dir: str) -> str:
    """Write the ten base tables at scale factor ``sf`` into ``out_dir``."""
    rng = np.random.default_rng([seed, int(sf * 1000), 1])
    os.makedirs(out_dir, exist_ok=True)
    n = {k: max(1, int(v * sf)) for k, v in _ROWS_PER_SF.items()}
    n_docs, n_emb = _doc_rows(sf)

    _write(os.path.join(out_dir, "region.parquet"), pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS, pa.string()),
    }))
    _write(os.path.join(out_dir, "nation.parquet"), pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }))
    c = n["customer"]
    _write(os.path.join(out_dir, "customer.parquet"), pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, c)),
        "c_mktsegment": _pick(rng, SEGMENTS, c),
    }))
    s = n["supplier"]
    _write(os.path.join(out_dir, "supplier.parquet"), pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, s)),
    }))
    p = n["part"]
    names = np.asarray([f"{a} {b}" for a in P_ADJ for b in P_NOUN], dtype=object)
    _write(os.path.join(out_dir, "part.parquet"), pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": pa.array(names[rng.integers(0, len(names), p)], pa.string()),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, p)], pa.string()),
        "p_type": _pick(rng, P_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(p) % 1000) / 10.0),
    }))
    o = n["orders"]
    _write(os.path.join(out_dir, "orders.parquet"), pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), o),
        "o_totalprice": pa.array(_cents(rng, 1000.0, 500000.0, o)),
        "o_orderdate": _days(rng, 0, 2404, o),
        "o_orderpriority": _pick(rng, PRIORITIES, o),
    }))
    li = n["lineitem"]
    _write(os.path.join(out_dir, "lineitem.parquet"), pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng, 900.0, 105000.0, li)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": _pick(rng, ("A", "N", "R"), li),
        "l_linestatus": _pick(rng, ("F", "O"), li),
        "l_shipdate": _days(rng, 1, 2499, li),
    }))
    e = n["events"]
    ts = np.sort(rng.integers(0, 30 * _DAY_US, e)) + _EPOCH_2024
    _write(os.path.join(out_dir, "events.parquet"), pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, c // 10), e), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": pa.array(np.round(rng.exponential(50.0, e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)], pa.string()),
    }))
    _write(os.path.join(out_dir, "documents.parquet"), documents_table(rng, n_docs, 0.05))
    _write(os.path.join(out_dir, "embeddings.parquet"), embeddings_table(rng, n_emb, 0.0))
    return out_dir


#: Tables a dedup batch regenerates; the rest are symlinked to the base.
BATCH_TABLES = ("documents", "embeddings")
BATCH_DOCS = 1000
#: Share of each batch's documents (and embeddings) that are injected
#: near-duplicates of an earlier row of the same batch.
BATCH_DUP_SHARE = 0.10


def dedup_batch(seed: int, index: int, base_dir: str, out_dir: str,
                n_docs: int = BATCH_DOCS) -> str:
    """Write fresh batch ``index``: new documents/embeddings (1:1,
    ``vec_id = doc_id``) with ``BATCH_DUP_SHARE`` near-duplicates,
    other tables symlinked from ``base_dir``. Refuses to overwrite, so
    a batch path is written once."""
    os.makedirs(out_dir)
    rng = np.random.default_rng([seed, index, 2])
    _write(os.path.join(out_dir, "documents.parquet"),
           documents_table(rng, n_docs, BATCH_DUP_SHARE))
    _write(os.path.join(out_dir, "embeddings.parquet"),
           embeddings_table(rng, n_docs, BATCH_DUP_SHARE))
    for name in os.listdir(base_dir):
        table = name.removesuffix(".parquet")
        if name.endswith(".parquet") and table not in BATCH_TABLES:
            os.symlink(os.path.abspath(os.path.join(base_dir, name)),
                       os.path.join(out_dir, name))
    return out_dir


# --------------------------------------------------------------------------
# serve-mixed request stream
# --------------------------------------------------------------------------

#: Upload targets; reads of these tables answer for whichever upload
#: was current when the read ran.
UPLOAD_TABLES = ("upl_a", "upl_b")


def upload_csv(rng: np.random.Generator) -> str:
    """CSV body with a header row: id, grp, qty (int), price (2 dp)."""
    n = int(rng.integers(500, 1501))
    grp = np.asarray(("g0", "g1", "g2", "g3", "g4", "g5"), dtype=object)[rng.integers(0, 6, n)]
    qty = rng.integers(1, 100, n)
    cents = rng.integers(100, 100_000, n)
    lines = ["id,grp,qty,price"]
    lines += [f"{i},{g},{q},{c // 100}.{c % 100:02d}" for i, g, q, c in zip(range(n), grp, qty, cents)]
    return "\n".join(lines) + "\n"


def _ts(rng: np.random.Generator) -> tuple[str, str]:
    start = int(rng.integers(0, 29 * 24 * 3600))
    length = int(rng.integers(600, 3 * 86_400))
    fmt = lambda sec: str(np.datetime64("2024-01-01T00:00:00") + np.timedelta64(sec, "s")).replace("T", " ")
    return fmt(start), fmt(start + length)


def sql_statement(rng: np.random.Generator, kind: int) -> str:
    """One statement of template ``kind`` (0-5) with seeded literals.
    Every aggregate is exact in both engines: sums of two-decimal values
    round to 2 decimals (the exact sum sits on a cent, so summation order
    cannot move it, as it can at 6 decimals near 1e8), and no average is
    rounded (an average can sit exactly on a rounding tie, which the two
    engines break differently)."""
    if kind == 0:  # scan-aggregate
        return (
            "SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n, "
            "ROUND(SUM(l_extendedprice), 2) AS revenue, CAST(SUM(ROUND(l_discount * 100)) AS BIGINT) AS disc_pts "
            f"FROM lineitem WHERE l_quantity < {rng.uniform(2, 50):.4f} "
            f"AND l_shipdate < TIMESTAMP '{1996 + int(rng.integers(0, 6))}-{int(rng.integers(1, 13)):02d}-01 00:00:00' "
            "GROUP BY l_returnflag, l_linestatus"
        )
    if kind == 1:  # join
        return (
            "SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_orders, ROUND(SUM(o_totalprice), 2) AS total "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            f"WHERE o_totalprice > {rng.uniform(1000, 450000):.2f} "
            f"AND c_mktsegment = '{SEGMENTS[int(rng.integers(0, len(SEGMENTS)))]}' "
            "GROUP BY n_name"
        )
    if kind == 2:  # top-k over a window
        return (
            "SELECT o_custkey, o_orderkey, o_totalprice AS price FROM ("
            "SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER "
            "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn "
            f"FROM orders WHERE o_custkey < {int(rng.integers(20, 400))} "
            f"AND o_totalprice > {rng.uniform(1000, 100000):.2f}) t WHERE rn <= 2"
        )
    if kind == 3:  # events time range
        lo, hi = _ts(rng)
        return (
            "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 2) AS total "
            f"FROM events WHERE ts >= TIMESTAMP '{lo}' AND ts < TIMESTAMP '{hi}' "
            "GROUP BY event_type"
        )
    if kind == 4:  # document text filter
        w1, w2 = (VOCAB[int(k)] for k in rng.integers(0, len(VOCAB), 2))
        return (
            "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars "
            f"FROM documents WHERE text LIKE '%{w1} {w2}%' AND n_chars > {int(rng.integers(40, 400))} "
            "GROUP BY lang"
        )
    table = UPLOAD_TABLES[int(rng.integers(0, len(UPLOAD_TABLES)))]
    return (  # aggregate over an uploaded table
        "SELECT grp, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(qty) AS BIGINT) AS total_qty, "
        f"CAST(SUM(ROUND(price * 100)) AS BIGINT) AS cents FROM {table} WHERE qty > {int(rng.integers(0, 90))} "
        f"AND price < {rng.uniform(50, 1000):.2f} GROUP BY grp"
    )


def serve_requests(seed: int, n: int, headliners: list[str]) -> list[tuple[str, str, str]]:
    """The first ``n`` requests of the seeded mix, as (kind, path, body).
    Every block of ten holds 7 ``/query`` (the six SQL templates in
    rotation; no statement text repeats), 2 ``/run/<headliner>`` (the
    headliners in rotation) and 1 CSV upload (the tables alternating),
    in a seeded order within the block. The rotations start at the same
    place for every seed, so a window holds the same mix whatever the
    seed; the seed varies literals, CSV bodies and order."""
    rng = np.random.default_rng([seed, 3])
    seen: set[str] = set()
    out: list[tuple[str, str, str]] = []
    counts = {"query": 0, "run": 0, "upload": 0}
    while len(out) < n:
        block = ["query"] * 7 + ["run"] * 2 + ["upload"]
        rng.shuffle(block)
        for kind in block:
            k = counts[kind]
            counts[kind] += 1
            if kind == "query":
                sql = sql_statement(rng, k % 6)
                while sql in seen:
                    sql = sql_statement(rng, k % 6)
                seen.add(sql)
                out.append(("query", "/query", sql))
            elif kind == "run":
                out.append(("run", "/run/" + headliners[k % len(headliners)], ""))
            else:
                table = UPLOAD_TABLES[k % len(UPLOAD_TABLES)]
                out.append(("upload", "/tables/" + table, upload_csv(rng)))
    return out[:n]


def main(argv: list[str]) -> int:
    """``python -m perfbench.gen SEED SF OUT_DIR [BATCH_ROOT N_BATCHES
    [BATCH_DOCS]]``: the base tables, then optional fresh batches
    ``BATCH_ROOT/b000``... Run as its own process so the generator's
    memory never counts toward the program's peak RSS."""
    seed, sf, out = int(argv[0]), float(argv[1]), argv[2]
    base_tables(seed, sf, out)
    if len(argv) > 3:
        root, n = argv[3], int(argv[4])
        docs = int(argv[5]) if len(argv) > 5 else BATCH_DOCS
        for i in range(n):
            dedup_batch(seed, i, out, os.path.join(root, f"b{i:03d}"), docs)
    return 0


if __name__ == "__main__":
    import sys

    raise SystemExit(main(sys.argv[1:]))
