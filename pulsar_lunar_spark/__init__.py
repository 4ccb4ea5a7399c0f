"""pulsar_lunar_spark — a PySpark-native analytics + messaging engine.

Re-expresses the capabilities of the reference (``Khunakon/pulsar-lunar``,
a Rust Apache-Pulsar client: typed message streams over partitioned topics
with schemas, keys, event time, compression, batching, subscriptions and
replay — see ``/root/reference/src/entity/producer.rs:19-54`` and
``/root/reference/src/PulsarApi.proto``) Spark-first:

- ``sources``   — Pulsar-style message log: envelope schema, produce(),
                  subscribe(), compacted reads, seek/replay.
- ``operators`` — relational/analytic operator library incl. as-of join,
                  top-k, dedup (exact/MinHash-LSH/SimHash), similarity
                  search, text analysis — all DataFrame-level, scale-aware.
- ``functions`` — envelope serde (payload <-> typed columns), expression
                  helpers (built-in pyspark.sql.functions only, JVM-side).
- ``streaming`` — the bounded drain, DLQ/redelivery, exactly-once sinks,
                  sticky Key_Shared ranges, custom stateful operators.
- ``queries``   — the declared query registry verified against the DuckDB
                  oracle (the t2 correctness contract).
- ``plans``     — plan-inspection helpers (pushdown/broadcast assertions).

Everything here is built on public Apache Spark APIs only.
"""

__all__ = ["get_spark", "tables", "load_table"]

__version__ = "0.1.0"


def __getattr__(name):
    # Lazy, so that importing the package (as the Python worker daemon
    # ``pulsar_lunar_spark._daemon`` does first) imports no pyspark.
    if name in __all__:
        from pulsar_lunar_spark import session

        return getattr(session, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
