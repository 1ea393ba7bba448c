"""optimus_any2any_spark — a PySpark-native analytics/ETL engine.

A from-scratch rebuild of the capabilities of goto/optimus-any2any
(reference surveyed in SURVEY.md) on top of Spark's DataFrame/Catalyst/
Structured-Streaming stack, plus the large-scale training-data-pipeline
operators (dedup, similarity search, text analysis, multimodal plumbing)
such an engine needs at 100 TB scale.

Layout:
    session     SparkSession construction with scale-tuned defaults
    tables      testdata table loading/registration helpers
    config      ``<COMPONENT>__<KEY>`` env-var config layer (reference:
                internal/config/util.go:41-53 semantics)
    metadata    metadata-column conventions (__METADATA__* columns;
                reference: docs/rfc_007, rfc_009)
    compiler/   ``[[ ]]`` template → Spark Column compiler; JQ-subset →
                DataFrame translation; JSONPath projection
    sources/    file/jdbc/http/... source components
    sinks/      file/kafka/jdbc/redis/... sink components
    formats/    json<->csv/xlsx converters, archiving
    operators/  dedup, similarity, text-analysis, multimodal
    streaming/  structured-streaming wrappers
    queries/    registered analytical queries + DuckDB oracle SQL
"""

__version__ = "0.1.0"


def ship_by_value(*modules) -> None:
    """Pickle the package's stdlib-only codec modules — and ``modules``
    — BY VALUE. Python workers of a session started outside the
    checkout cannot import this package, so every package function a
    UDF, a data source or a worker closure calls must travel inside
    its pickle instead of as an import-by-name. Registration is
    idempotent; call it before the first pickle is made."""
    from pyspark import cloudpickle

    from optimus_any2any_spark.formats import avrobin, puffin, roaring

    for m in (avrobin, roaring, puffin, *modules):
        cloudpickle.register_pickle_by_value(m)
