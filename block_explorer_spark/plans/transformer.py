"""D1/D2 — the transform stage: raw platform records → canonical rows.

reference: etl/transformer/transformer.go:22-84 (Transform),
207-292 (record decode), with the J6 chain sort in operators/chain_sort.

The reference transforms one pulse at a time through a channel; here
the same logic is one declarative batch transform over any number of
pulses at once — grouping per (pulse, jet) replaces the per-pulse loop
and scales by partitioning instead of queue depth. The per-group step
(decode → exact-duplicate collapse → chain walk) is one function,
chain_sort.make_sort_group; the two entry points below differ only in
where the batch lives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from block_explorer_spark import schemas
from block_explorer_spark.operators import chain_sort as CS

#: The raw columns the group step reads (the pulse-chain links are
#: per-pulse facts, not record columns, so they stay behind).
_RAW_COLS = [
    f.name
    for f in schemas.RAW_RECORDS.fields
    if f.name not in ("prev_pulse_number", "next_pulse_number")
]
_RECORD_COLS = [f.name for f in schemas.RECORDS.fields]


def transform_pulse_data(
    raw: DataFrame, drop_invalid: bool = True, dedupe: bool = False
) -> DataFrame:
    """D1 on the cluster: the group step per (pulse_number, jet_id) as
    a grouped map (applyInPandas), one Spark shuffle for the batch.

    Input: schemas.RAW_RECORDS. Output: schemas.RECORDS with `order`
    assigned 1..N within each (pulse_number, jet_id), state chains
    ordered by prev-links; drops with broken/forked chains removed
    when drop_invalid (the reference fails the whole drop; the
    controller's reload loop, D6, re-requests it). dedupe=True
    collapses exact replays inside the groups, riding the shuffle the
    sort pays anyway instead of a standalone full-batch exchange."""
    out_schema = T.StructType(
        list(schemas.RECORDS.fields)
        + [T.StructField("chain_error", T.StringType(), True)]
    )
    out = (
        raw.select(*_RAW_COLS)
        .groupBy("pulse_number", "jet_id")
        .applyInPandas(CS.make_sort_group(dedupe), schema=out_schema)
    )
    if drop_invalid:
        out = out.filter(F.col("chain_error").isNull())
    return out.drop("chain_error")


def transform_pulse_data_pdf(raw_pdf, drop_invalid: bool = True, dedupe: bool = False):
    """D1 on the driver, for a micro-batch it already holds (pandas in,
    pandas out): the same group step over a pandas groupby, with the
    same output as transform_pulse_data."""
    import pandas as pd

    step = CS.make_sort_group(dedupe)
    parts = [
        part
        for _, g in raw_pdf.groupby(["pulse_number", "jet_id"], sort=False)
        if len(part := step(g))
    ]
    if not parts:
        return pd.DataFrame(columns=_RECORD_COLS)
    res = pd.concat(parts, ignore_index=True)
    if drop_invalid:
        res = res[res["chain_error"].isna()]
    return res[_RECORD_COLS]
