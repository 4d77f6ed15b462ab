"""Jet-id algebra.

A jet id is a binary-prefix string ("", "0", "01", ... up to 216 bits)
identifying a shard of the record space; jets split ("j" -> "j0","j1")
and merge one binary-tree level per pulse. The empty string is the root
jet, rendered "*" at the API edge.

Pure-Python versions run driver-side (they parameterize filters);
column versions run JVM-side for per-row use.

reference: etl/storage/helper.go:5-14 (parents),
etl/models/models.go:57-64 (siblings), 82-125 (jet drop id format),
etl/controller/pulsemaintainer.go:145-212 (trie coverage).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

JET_ID_RE = re.compile(r"^(\*|[0-1]{1,216})$")

ROOT_DISPLAY = "*"


def is_valid_jet_id(jet_id: str) -> bool:
    """Validate an API-side jet id ("*" or 1-216 binary digits)."""
    return bool(JET_ID_RE.match(jet_id))


def display_to_storage(jet_id: str) -> str:
    """API rendering -> stored form ("*" -> "")."""
    return "" if jet_id == ROOT_DISPLAY else jet_id


def storage_to_display(jet_id: str) -> str:
    return ROOT_DISPLAY if jet_id == "" else jet_id


def jet_parents(jet_id: str) -> list[str]:
    """All ancestor prefixes of a jet, including root and itself.

    X4: "" , j[:1], j[:2], ..., j.  Pure driver-side function used to
    parameterize the F9 hierarchy filter.
    """
    return [jet_id[:i] for i in range(len(jet_id) + 1)]


def jet_siblings(jet_id: str) -> list[str]:
    """X5: {j, j+"0", j+"1", j[:-1]} — prev/next drops after split/merge."""
    out = [jet_id, jet_id + "0", jet_id + "1"]
    if jet_id:
        out.append(jet_id[:-1])
    return out


def sibling_exprs(jet_id: str) -> list[str]:
    """Sibling set deduped, preserving order (root has no parent)."""
    seen: dict[str, None] = {}
    for s in jet_siblings(jet_id):
        seen.setdefault(s, None)
    return list(seen)


def trie_covered(jet_ids: list[str]) -> bool:
    """D4 core: does this jet set cover the whole binary record space?

    A pulse is complete iff every point of the jet trie is owned by some
    drop: for each jet, its sibling subtree must be covered too — either
    by an exact sibling, by an ancestor of the sibling, or by descendants
    covering both of the sibling's children, recursively. Runs per-pulse
    over collect_set(jet_id) (a few hundred strings), so plain Python
    inside a UDF is the right tool; the heavy lifting (grouping billions
    of drops into per-pulse sets) stays in Spark.

    reference: etl/controller/pulsemaintainer.go:145-212
    """
    jets = set(jet_ids)
    if not jets:
        return False
    if "" in jets:
        return True

    prefixes = jets | {j[:i] for j in jets for i in range(len(j))}

    def covered(prefix: str, depth: int) -> bool:
        if prefix in jets:
            return True
        # Only recurse where some stored jet lives below this prefix;
        # depth bound guards against pathological inputs.
        if depth > 216 or prefix not in prefixes:
            return False
        return covered(prefix + "0", depth + 1) and covered(prefix + "1", depth + 1)

    return covered("", 0)


# ---------------------------------------------------------------------------
# Column (JVM-side) versions
# ---------------------------------------------------------------------------


def jet_drop_id_col(jet_id: Column | str = "jet_id", pulse_number: Column | str = "pulse_number") -> Column:
    """X2: "<jet>:<pulse>" with root rendered "*". JVM-side concat."""
    j = F.col(jet_id) if isinstance(jet_id, str) else jet_id
    p = F.col(pulse_number) if isinstance(pulse_number, str) else pulse_number
    display = F.when(j == "", F.lit(ROOT_DISPLAY)).otherwise(j)
    return F.concat_ws(":", display, p.cast("string"))


def parse_int64(value: str) -> int:
    """A plain decimal that fits in int64, as Go's strconv.ParseInt
    (base 10, 64 bits) reads it: ValueError on overflow, underscores,
    whitespace or non-ASCII digits — all of which Python's int()
    would accept or read as a bigger number."""
    if not re.fullmatch(r"-?[0-9]+", value) or not (
        -(2**63) <= int(value) < 2**63
    ):
        raise ValueError(f"not an int64: {value!r}")
    return int(value)


def parse_jet_drop_id(value: str) -> tuple[str, int]:
    """X2 inverse: "<jet>:<pulse>" -> (stored_jet_id, pulse_number).

    Pulse must be a plain decimal that fits in int64 (`parse_int64`),
    so a 21-digit pulse is a *format* error, not a huge jet drop id
    (etl/models/models.go:94-113).
    """
    jet, _, pulse = value.rpartition(":")
    if not is_valid_jet_id(jet):
        raise ValueError(f"invalid jet id in jet drop id: {value!r}")
    try:
        pn = parse_int64(pulse)
    except ValueError:
        raise ValueError(f"invalid pulse in jet drop id: {value!r}") from None
    return display_to_storage(jet), pn


