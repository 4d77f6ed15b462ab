"""J6 — per-object linked-list ordering inside a jet drop.

Within one (pulse, jet) group, each object's state records form a
linked list via prev_record_reference; the transform must emit them in
chain order and assign the drop-wide `order` column. A broken or forked
chain invalidates the whole jet drop (the reference fails the drop's
transform and retries — etl/transformer/transformer.go:87-152, pinned
by test/api/object_lifeline_test.go:158-223).

Spark shape: groupBy(pulse_number, jet_id).applyInPandas — groups are
one jet drop (≤ a few thousand rows), so a per-group hash-map walk in
Python is both exact and cheap, while the grouping itself (the actual
scale problem: billions of records → millions of drops) stays a single
Spark shuffle. Arrow moves each group as a columnar batch. The group
step starts with the D2 decode, so the kind mapping is written once
(`decode`) and both placements run the same function.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd

from block_explorer_spark import schemas


class BrokenChainError(ValueError):
    """A state chain inside one jet drop is broken or forked."""


def order_group(records: list[dict]) -> list[dict]:
    """Chain-sort one jet drop's records (pure Python, unit-testable).

    Records arrive in extractor `position` order. Non-state records keep
    positional order. State records are re-ordered per object by walking
    prev_record_reference chains from the head (the record whose prev is
    absent from the group); fork (two records sharing a prev) or break
    (missing link / cycle) raises BrokenChainError for the whole drop.

    Output: the full record list with `order` = 1..N assigned in final
    sequence: positional order, but each object's state records replaced
    by chain order.
    """
    by_pos = sorted(records, key=lambda r: r["position"])
    states: dict[bytes, list[dict]] = {}
    for r in by_pos:
        if r["type"] == "state":
            states.setdefault(bytes(r["object_reference"] or b""), []).append(r)

    chain_order: dict[bytes, list[dict]] = {}
    for obj, group in states.items():
        refs = {bytes(r["reference"]): r for r in group}
        prevs = [
            bytes(r["prev_record_reference"]) if r["prev_record_reference"] else None
            for r in group
        ]
        non_null_prevs = [p for p in prevs if p is not None]
        if len(set(non_null_prevs)) != len(non_null_prevs):
            raise BrokenChainError(f"forked chain for object {obj.hex()}")
        heads = [
            r
            for r, p in zip(group, prevs)
            if p is None or p not in refs
        ]
        if len(heads) != 1:
            raise BrokenChainError(
                f"object {obj.hex()}: {len(heads)} chain heads in drop (want 1)"
            )
        nxt = {
            p: r for r, p in zip(group, prevs) if p is not None and p in refs
        }
        ordered = [heads[0]]
        while len(ordered) < len(group):
            cur = bytes(ordered[-1]["reference"])
            if cur not in nxt:
                raise BrokenChainError(f"broken chain for object {obj.hex()}")
            ordered.append(nxt[cur])
        chain_order[obj] = ordered

    iters: dict[bytes, Iterable[dict]] = {k: iter(v) for k, v in chain_order.items()}
    out = []
    for r in by_pos:
        if r["type"] == "state":
            r = next(iters[bytes(r["object_reference"] or b"")])
        out.append(dict(r))
    for i, r in enumerate(out):
        r["order"] = i + 1
    return out


#: D2 (etl/transformer/transformer.go:231-277): each supported platform
#: kind → (model type, the clearable columns it keeps). Any other kind
#: is skipped, as the reference skips it.
#:   - prototype_reference only for Activate/Amend (the object's image);
#:   - prev_record_reference only for Amend/Deactivate (PrevState);
#:     cleared for Activate (chain head) and non-state kinds;
#:   - payload only for Activate/Amend (the object Memory) and Result
#:     (the result Payload); deactivate and requests persist an empty
#:     payload in the reference.
KINDS = {
    "activate": ("state", {"prototype_reference", "payload"}),
    "amend": ("state", {"prototype_reference", "prev_record_reference", "payload"}),
    "deactivate": ("state", {"prev_record_reference"}),
    "result": ("result", {"payload"}),
    "incoming_request": ("request", set()),
    "outgoing_request": ("request", set()),
}
_CLEARABLE = ("prototype_reference", "prev_record_reference", "payload")

#: The chain walk's input columns: schemas.RECORDS minus the `order`
#: it assigns, plus the extractor `position` it orders by.
_WALK_COLS = [f.name for f in schemas.RECORDS.fields if f.name != "order"] + ["position"]
_OUT_COLS = [f.name for f in schemas.RECORDS.fields] + ["chain_error"]


def decode(rows: list[dict]) -> list[dict]:
    """D2: normalize raw platform records (schemas.RAW_RECORDS columns)
    into the 3 model types (KINDS), projected to the chain walk's
    columns. Row by row in plain Python: a jet drop is small, and a
    per-group pandas pass would cost more than the rows themselves."""
    out = []
    for r in rows:
        rule = KINDS.get(r["kind"])
        if rule is None:
            continue
        typ, kept = rule
        d = {c: r[c] for c in _WALK_COLS if c != "type"}
        d["type"] = typ
        for c in _CLEARABLE:
            if c not in kept:
                d[c] = None
        out.append(d)
    return out


def _unique(rows: list[dict]) -> list[dict]:
    """Identical rows collapsed to their first occurrence (nulls equal,
    as pandas' drop_duplicates has them)."""
    seen: set = set()
    out = []
    for r in rows:
        key = tuple(v if v == v else None for v in r.values())
        if key not in seen:
            seen.add(key)
            out.append(r)
    return out


def make_sort_group(dedupe: bool):
    """The whole per-(pulse, jet) transform step as one pandas→pandas
    function: decode → exact-duplicate collapse → chain walk. Both
    placements run it: the cluster as the grouped map of
    transformer.transform_pulse_data, the driver over a pandas groupby
    in transformer.transform_pulse_data_pdf.

    Input: one group's raw records. Output: schemas.RECORDS plus
    `chain_error` (None, or why the drop's chains are broken/forked;
    such a drop keeps positional order). A group holding only
    unsupported kinds yields an empty frame with the output columns.

    dedupe=True collapses identical rows AFTER decode: an at-least-once
    source's exact replays share every column incl. (pulse, jet), so
    they always land in one group, and replays that differ only in a
    column decode clears collapse too. Rows differing in any kept
    column (a genuine in-batch fork) still reach fork validation."""

    def sort_group(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = decode(pdf.to_dict("records"))
        if dedupe:
            rows = _unique(rows)
        if not rows:
            return pd.DataFrame(columns=_OUT_COLS)
        try:
            ordered = order_group(rows)
            err = None
        except BrokenChainError as e:
            ordered = []
            for i, r in enumerate(sorted(rows, key=lambda r: r["position"])):
                r = dict(r)
                r["order"] = i + 1
                ordered.append(r)
            err = str(e)
        res = pd.DataFrame(ordered)
        res["chain_error"] = err
        return res[_OUT_COLS]

    return sort_group
