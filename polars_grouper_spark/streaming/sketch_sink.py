"""Streaming sketch maintenance: mergeable HLL state via foreachBatch.

The 100 TB streaming-summary contract made live: a running
distinct-count over an unbounded stream CANNOT keep the distinct set
(state would grow with the data), but an HLL register table is
FIXED-SIZE (2^b rows) and max-mergeable — so each microbatch reduces to
its own register table and folds into the running state with a
per-bucket max.  This is how production pipelines keep daily/rolling
cardinalities over event firehoses: sketch state per window, merged
downstream, never a distinct set anywhere.

The fold runs in ``foreachBatch``: the per-batch aggregation is a full
distributed job (map-side combinable, the data-sized work); only the
≤ 2^b register rows cross to the driver-held running table — metadata
by construction, independent of stream volume.  The running state is
exactly reproducible: registers are max-combinable, so ANY
batching/ordering of the input yields the identical table — asserted
against the one-shot batch sketch in tests and by the SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from polars_grouper_spark.plans.parallelism import local_result

from ..functions.sketches import hll_estimate, hll_registers


class StreamingHll:
    """Running HLL register state fed by a streaming query.

    Usage::

        sk = StreamingHll(b=12)
        q = (stream.writeStream.foreachBatch(sk.update)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        est = sk.estimate(spark)   # one-row (estimate double) DataFrame
    """

    def __init__(self, col: str, b: int = 12):
        if not 4 <= b <= 18:
            raise ValueError(f"b must be in [4, 18], got {b}")
        self.col = col
        self.b = b
        self.registers: "dict[int, int]" = {}
        self.batches = 0

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: aggregate the microbatch to registers
        (distributed), fold into the running table (≤ 2^b rows)."""
        regs = hll_registers(batch_df, self.col, self.b).collect()
        for r in regs:
            bkt, rho = r["bucket"], r["max_rho"]
            if rho > self.registers.get(bkt, 0):
                self.registers[bkt] = rho
        self.batches += 1

    def register_df(self, spark: SparkSession) -> DataFrame:
        return local_result(
            spark,
            [(k, v) for k, v in sorted(self.registers.items())],
            "bucket int, max_rho int",
        )

    def estimate(self, spark: SparkSession) -> DataFrame:
        """One-row ``(estimate double)`` — identical to the one-shot
        batch ``hll_distinct`` over everything the stream has seen."""
        return hll_estimate(self.register_df(spark), self.b)
