"""Python UDTF surface (SURVEY §2.13): genuinely table-generating /
order-dependent logic exposed through Spark SQL's lateral
``fn(TABLE(...) PARTITION BY ... ORDER BY ...)`` form.

The engine's hot paths stay native (explode compositions,
applyInPandas) — a Python UDTF is row-at-a-time across the Python
worker boundary, so it is the right tool only where SQL callers need
the operator *from SQL* or where per-row streaming state doesn't fit
the grouped-map shape. The UDTF here is equivalence-pinned against
its native twin in tests/test_curation.py.
"""

from __future__ import annotations

from pyspark.sql.functions import udtf


@udtf(returnType=("lang string, shard bigint, doc_id bigint, "
                  "bin_id bigint, tok bigint"))
class NextFitPackUDTF:
    """Next-fit sequence packing as a SQL table function — the SQL
    surface of operators/curation.py::pack_sequences. One instance
    per PARTITION BY group; rows arrive in ORDER BY order, so the
    running (fill, bin) state replays the identical greedy walk.

    Usage::

        spark.udtf.register("next_fit_pack", NextFitPackUDTF)
        SELECT * FROM next_fit_pack(
            TABLE(docs) PARTITION BY (lang, shard) ORDER BY doc_id)
    """

    BUDGET = 512

    def __init__(self):
        self.fill: int | None = None
        self.bin = -1

    def eval(self, row):
        if row["tok"] is None:  # null text -> nothing to pack (skip-null)
            return
        t = int(row["tok"])
        if self.fill is not None and self.fill + t <= self.BUDGET:
            self.fill += t
        else:
            self.bin += 1
            self.fill = t
        yield row["lang"], row["shard"], row["doc_id"], self.bin, t
