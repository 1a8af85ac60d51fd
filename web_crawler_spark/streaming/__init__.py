from pyspark.sql import DataFrame

# a bounded stream over a test-size directory drains in seconds; past this,
# the harness fails loudly instead of returning a partial table
_DRAIN_TIMEOUT_S = 600


def run_to_memory(df: DataFrame, name: str, mode: str = "complete"):
    """Drain a bounded (availableNow) stream into the in-memory table *name*
    and return the finished query — the test/demo harness of every
    streaming twin. *mode*: complete for aggregations, append for
    stream-stream joins and stateful first-occurrence output, update for
    per-key sketch state."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(_DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(f"stream {name!r} did not drain in {_DRAIN_TIMEOUT_S} s")
    return q
