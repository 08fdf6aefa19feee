"""Input materialisation. The benchmark's own process builds every
input before any timed session starts, so the timed session never shares
an interpreter (or a warmed cache) with the code that built its input.

``corpus``: an extraction corpus drawn from a fixed universe of
generator documents (``BLOCKS`` blocks of ``BLOCK`` docs per mix). Each
block is generated once per checkout, in worker processes, as parquet
with the span schema the pipeline reads, together with its docs'
expected span hashes from ``oracle.ktp.process_document``; both are
keyed by mix and the generator/oracle source hash. ``ensure_universe``
builds every block of every named mix at once, so only a checkout's
first run pays for it. The caller names the blocks of a corpus, which is
written as one parquet file per core and cached by mix, blocks and file
count.

``tables``: the orders/customer/documents tables the oracle_queries
subset reads, generated from a fixed seed, plus each query's expected
DuckDB result hash cached by SQL text and table file stats.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from datetime import datetime, timedelta
from multiprocessing import Pool

from common import (
    QUERIES,
    QUERY_TABLES,
    WORK,
    cores,
    source_hash,
    span_hash,
)

BLOCK = 500           # docs per universe block
BLOCKS = 32           # blocks per mix
GEN_SEED = 42         # generator seed of the universe and the tables
TABLE_ROWS = {"orders": 10000, "customer": 1000, "documents": 200}


def oracle_source_hash() -> str:
    return source_hash("indonesian_id_ocr_service_spark/corpus/generator.py",
                       "indonesian_id_ocr_service_spark/dictionaries.py",
                       "indonesian_id_ocr_service_spark/oracle")


# -- extraction corpus ------------------------------------------------------

def _doc(index: int, mix: tuple):
    from indonesian_id_ocr_service_spark.corpus.generator import generate_doc

    return generate_doc(index, seed=GEN_SEED, fractions=mix)


def _expected_hashes(docs) -> dict:
    """Expected span hash per doc, from ``oracle.ktp.process_document``."""
    from indonesian_id_ocr_service_spark.oracle import ktp as oracle

    out = {}
    for d in docs:
        spans = oracle.process_document(
            d.doc_id,
            [dict(zip(("kind", "text", "media_ref", "offset"), s))
             for s in d.spans],
            [dict(zip(("y", "x0", "x1", "h"), g)) for g in d.geom],
            [dict(zip(("kind", "text", "media_ref", "offset"), s))
             for s in d.alt_spans],
            [dict(zip(("y", "x0", "x1", "h"), g)) for g in d.alt_geom],
            list(d.conf))
        out[d.doc_id] = span_hash(
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in spans)
    return out


def _span_schema():
    import pyarrow as pa

    span = pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                               ("media_ref", pa.string()),
                               ("offset", pa.int32())]))
    geom = pa.list_(pa.struct([("y", pa.int32()), ("x0", pa.int32()),
                               ("x1", pa.int32()), ("h", pa.int32())]))
    return pa.schema([("doc_id", pa.string()), ("spans", span),
                      ("span_geom", geom),
                      ("span_conf", pa.list_(pa.float64())),
                      ("spans_alt", span), ("alt_geom", geom)])


def _block_dir(mix: tuple) -> str:
    return os.path.join(WORK, "blocks",
                        f"{'-'.join(str(x) for x in mix)}-"
                        f"{oracle_source_hash()}")


def _make_block(args) -> None:
    """Write one universe block as parquet and, when asked, its expected
    hashes as JSON."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from indonesian_id_ocr_service_spark.corpus.generator import (
        _geom_dicts,
        _span_dicts,
    )

    block, mix, with_oracle = args
    out = os.path.join(_block_dir(mix), str(block))
    docs = [_doc(i, mix) for i in range(block * BLOCK, (block + 1) * BLOCK)]
    if not os.path.exists(out + ".parquet"):
        schema = _span_schema()
        cols: list = [[] for _ in schema]
        for d in docs:
            for c, v in zip(cols, (d.doc_id, _span_dicts(d.spans),
                                   _geom_dicts(d.geom), list(d.conf),
                                   _span_dicts(d.alt_spans),
                                   _geom_dicts(d.alt_geom))):
                c.append(v)
        pq.write_table(pa.table([pa.array(c, type=f.type)
                                 for c, f in zip(cols, schema)],
                                schema=schema), out + ".parquet.tmp")
        os.replace(out + ".parquet.tmp", out + ".parquet")
    if with_oracle and not os.path.exists(out + ".json"):
        with open(out + ".json.tmp", "w") as f:
            json.dump(_expected_hashes(docs), f)
        os.replace(out + ".json.tmp", out + ".json")


def _ensure_blocks(mix: tuple, blocks, with_oracle: bool) -> None:
    base = _block_dir(mix)
    os.makedirs(base, exist_ok=True)
    ext = (".parquet", ".json") if with_oracle else (".parquet",)
    missing = [b for b in blocks if not all(
        os.path.exists(os.path.join(base, f"{b}{e}")) for e in ext)]
    if missing:
        with Pool(min(cores(), len(missing))) as pool:
            pool.map(_make_block, [(b, mix, with_oracle) for b in missing])


def ensure_universe(mixes) -> None:
    """Every block of each mix, docs and oracle hashes."""
    for mix in mixes:
        _ensure_blocks(mix, range(BLOCKS), True)


def corpus(mix: tuple, blocks: list, expected: bool) -> dict:
    """One corpus of the named blocks, as one parquet file per core, and
    when asked the expected hashes of its docs. Returns its path, doc
    count, preparation seconds, oracle-cache seconds and the hashes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = time.time()
    _ensure_blocks(mix, blocks, expected)
    files = cores()
    out_dir = os.path.join(
        WORK, "corpus", f"{os.path.basename(_block_dir(mix))}-"
        f"{'.'.join(str(b) for b in blocks)}-f{files}")
    if not os.path.exists(os.path.join(out_dir, "_DONE")):
        table = pa.concat_tables(
            pq.read_table(os.path.join(_block_dir(mix), f"{b}.parquet"))
            for b in blocks)
        tmp = out_dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        n = table.num_rows
        for k in range(files):
            lo, hi = k * n // files, (k + 1) * n // files
            pq.write_table(table.slice(lo, hi - lo),
                           os.path.join(tmp, f"part-{k:03d}.parquet"))
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(out_dir, ignore_errors=True)
        os.replace(tmp, out_dir)
    res = {"path": out_dir, "n_docs": len(blocks) * BLOCK,
           "prep_s": time.time() - t0, "oracle_s": 0.0}
    if expected:
        t1 = time.time()
        res["expected"] = {}
        for b in blocks:
            with open(os.path.join(_block_dir(mix), f"{b}.json")) as f:
                res["expected"].update(json.load(f))
        res["oracle_s"] = time.time() - t1
    return res


# -- oracle_queries tables ----------------------------------------------------

_WORDS = ("join hash row batch scan column customer filter small slow merge "
          "order vector line table data agg value key stream window a spark "
          "part group big sort query fast the").split()
_LANGS = ["en"] * 8 + ["zh", "es", "de", "fr"] * 3


def _tables(seed: int) -> dict:
    """Seeded tables with the driver testdata's schemas and value
    domains (TESTDATA.md) at sf0.01-like row counts."""
    import pyarrow as pa

    rng = random.Random(seed)
    n_o, n_c, n_d = (TABLE_ROWS[t] for t in ("orders", "customer",
                                              "documents"))
    day0 = datetime(1995, 1, 1)
    span_days = (datetime(2001, 8, 1) - day0).days
    orders = pa.table({
        "o_orderkey": pa.array(range(n_o), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n_c) for _ in range(n_o)],
                              pa.int64()),
        "o_orderstatus": [rng.choice("FOP") for _ in range(n_o)],
        "o_totalprice": [round(rng.uniform(1000, 500000), 2)
                         for _ in range(n_o)],
        "o_orderdate": pa.array(
            [day0 + timedelta(days=rng.randrange(span_days + 1))
             for _ in range(n_o)], pa.timestamp("us")),
        "o_orderpriority": [rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                        "4-NOT SPECIFIED", "5-LOW"])
                            for _ in range(n_o)],
    })
    customer = pa.table({
        "c_custkey": pa.array(range(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_c)],
                                pa.int32()),
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2)
                      for _ in range(n_c)],
        "c_mktsegment": [rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                     "HOUSEHOLD", "MACHINERY"])
                         for _ in range(n_c)],
    })
    texts: list = []
    for i in range(n_d):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document (dedup/LSH work)
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS)
                                  for _ in range(rng.randint(10, 100))))
    documents = pa.table({
        "doc_id": pa.array(range(n_d), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(n_d)],
        "source": [f"src{i % 20}" for i in range(n_d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return {"orders": orders, "customer": customer, "documents": documents}


def _file_stats(out_dir: str) -> str:
    parts = []
    for t in sorted(TABLE_ROWS):
        st = os.stat(os.path.join(out_dir, f"{t}.parquet"))
        parts.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
    return ";".join(parts)


def tables() -> dict:
    """Write the tables once per checkout and generator version; return
    the expected DuckDB result per query, cached by (SQL text, table file
    stats)."""
    import hashlib

    import pyarrow.parquet as pq

    out_dir = os.path.join(WORK, "tables", source_hash("perfbench/inputs.py"))
    t0 = time.time()
    if not os.path.exists(os.path.join(out_dir, "_DONE")):
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        for name, table in _tables(GEN_SEED).items():
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        open(os.path.join(out_dir, "_DONE"), "w").close()
    gen_s = time.time() - t0

    import duckdb

    import __spark_entry__ as entry
    from tools.check_oracle import _hash_rows

    sqls = entry.oracle_sql()
    stats = _file_stats(out_dir)
    cache_dir = os.path.join(WORK, "oracle-queries")
    os.makedirs(cache_dir, exist_ok=True)
    expected: dict = {}
    con = None
    t1 = time.time()
    for name in QUERIES:
        key = hashlib.sha1(f"{sqls[name]}\0{stats}".encode()).hexdigest()
        path = os.path.join(cache_dir, f"{name}-{key[:16]}.json")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                for t in sorted(set(QUERY_TABLES.values())):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{out_dir}/{t}.parquet')")
            res = con.execute(sqls[name])
            cols = [c[0].lower() for c in res.description]
            rows = res.fetchall()
            with open(path + ".tmp", "w") as f:
                json.dump({"cols": sorted(cols), "rows": len(rows),
                           "hash": _hash_rows(cols, rows)}, f)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            expected[name] = json.load(f)
    oracle_s = time.time() - t1
    return {"path": out_dir, "prep_s": gen_s, "oracle_s": oracle_s,
            "expected": expected,
            "n_in": sum(TABLE_ROWS[QUERY_TABLES[q]] for q in QUERIES),
            "doc_rows": TABLE_ROWS["documents"]}
