"""PySpark-native Indonesian ID (KTP/SIM) field-extraction analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference OCR field-extraction service (`Steffi-Soe/indonesian-id-ocr-service`,
studied read-only at /root/reference). The reference is a single-process
Flask app handling one image per request; this engine is a distributed
batch pipeline over tables of interleaved text+media document spans
(`doc_id:string, spans:array<struct<kind,text,media_ref,offset>>`),
built on the DataFrame API plus Arrow-batched Python stages
(``mapInArrow`` for the extraction kernel and the driver queries'
scalar tiers, ``mapInPandas`` for the data queries' operator
kernels).

Layout
------
- ``dictionaries``  : static lookup data (confusion tables, canonical maps,
                      region DB) — broadcast-join / closure-shipped dims
- ``functions/``    : JVM column-expression libraries (NIK, dates, fields,
                      text analysis) + the kernel's Python tiers
                      (``pandas_ktp``) and fuzzy scorers
- ``operators/``    : classify / spatial extract / cross-validate / score /
                      dedup / similarity / media operators
- ``corpus/``       : deterministic synthetic span-corpus generator (seed 42)
- ``oracle/``       : pure-Python single-document oracle (reference
                      semantics, no Spark) used by the pytest equality gate
- ``pipeline``      : end-to-end assembly: corpus → extracted spans
- ``session``       : SparkSession builders tuned for scale
"""

__version__ = "0.1.0"
