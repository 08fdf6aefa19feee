"""Driver-side planning cost of an extraction job.

A cold ``spark-submit`` job pays its driver's planning before the first
task. Each py4j round trip is a socket exchange with the JVM, so one
``ExtractionRun.process`` must stay within a fixed number of them: the
source goes to the pipeline unfiltered and its output is written as it
is, with no column added on the driver. The kernel's output schema is
built as types, so planning it starts no SQL parser; it must stay the
schema its DDL form describes. An AST guard keeps type strings out of
the extraction path's ``.cast(...)`` and ``mapInArrow(schema=...)``
calls.
"""

from __future__ import annotations

import ast
import os
import threading

from indonesian_id_ocr_service_spark.operators.unified_extract import (
    FULL_KERNEL_SCHEMA,
)
from indonesian_id_ocr_service_spark.sinks.lineage import ExtractionRun

#: py4j round trips one warm ``process()`` of 200 documents may send
#: from the calling thread: 104 measured (PySpark 4.1, local[4]), 136
#: when a ``bucket`` column was added to every result row
MAX_PROCESS_TRIPS = 120

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the modules that plan an extraction job on the driver
EXTRACTION_PATH = [
    "indonesian_id_ocr_service_spark/pipeline.py",
    "indonesian_id_ocr_service_spark/sinks/lineage.py",
    "indonesian_id_ocr_service_spark/operators/unified_extract.py",
]


def _round_trips(spark, monkeypatch, fn) -> int:
    """py4j commands this thread sends to the JVM while ``fn`` runs."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    n = 0

    def counting(*args, **kwargs):
        nonlocal n
        if threading.get_ident() == me:
            n += 1
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    try:
        fn()
    finally:
        monkeypatch.undo()
    return n


def test_process_round_trips_stay_bounded(spark, tmp_path, monkeypatch):
    from indonesian_id_ocr_service_spark.corpus.generator import corpus_df
    from indonesian_id_ocr_service_spark.pipeline import run_pipeline

    src = str(tmp_path / "corpus")
    corpus_df(spark, 200, seed=7).write.parquet(src)
    df = spark.read.parquet(src)

    def process(name):
        res = ExtractionRun(str(tmp_path / name), run_id=name).process(
            spark, df, run_pipeline)
        assert res == {"skipped": False, "rows": 200}

    process("warm")
    trips = _round_trips(spark, monkeypatch, lambda: process("run"))
    assert trips <= MAX_PROCESS_TRIPS, trips


def test_kernel_schema_matches_its_ddl(spark):
    from pyspark.sql.types import DataType

    ddl = (
        "doc_id string, doc_type string, field_methods map<string,string>, "
        "out_spans "
        "array<struct<kind:string,text:string,media_ref:string,order:int>>"
    )
    assert FULL_KERNEL_SCHEMA == DataType.fromDDL(ddl)


def _is_str(node) -> bool:
    return isinstance(node, ast.Constant) and isinstance(node.value, str)


def _type_strings(source: str) -> list[int]:
    """Lines of ``source`` that hand Spark a type as a string: a string
    literal argument to ``.cast(...)``, or a string ``schema`` of
    ``mapInArrow`` (keyword, or second positional argument). Each one
    starts the SQL parser on the driver."""
    bad = []
    for node in ast.walk(ast.parse(source)):
        if not (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)):
            continue
        args = list(node.args)
        if node.func.attr == "cast":
            args += [k.value for k in node.keywords]
        elif node.func.attr == "mapInArrow":
            args = args[1:2] + [k.value for k in node.keywords
                                if k.arg == "schema"]
        else:
            continue
        if any(_is_str(a) for a in args):
            bad.append(node.lineno)
    return bad


def test_type_string_guard_catches_string_casts():
    old_bucket_of = (
        "def bucket_of(self):\n"
        "    return (F.conv(F.substring(F.md5(F.col('doc_id')), 1, 6),"
        " 16, 10)\n"
        "            .cast('long') % self.n_buckets).cast('int')\n")
    assert _type_strings(old_bucket_of) == [2, 2]
    assert _type_strings("df.mapInArrow(f, 'a string')") == [1]
    assert _type_strings("df.mapInArrow(f, schema='a string')") == [1]
    assert _type_strings("df.mapInArrow(f, schema=SCHEMA)\n"
                         "c.cast(IntegerType())") == []


def test_extraction_path_passes_no_type_strings():
    for rel in EXTRACTION_PATH:
        with open(os.path.join(REPO, rel)) as f:
            assert _type_strings(f.read()) == [], rel
