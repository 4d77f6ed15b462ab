"""API edge: parameter validation, search dispatch, response mappers.

The reference serves its query surface behind echo handlers that do
all validation before touching storage (api/handlers.go); the error
taxonomy — (property, failure_reason) pairs accumulated across params
— is pinned by api/handlers_test.go. This module reproduces that
contract as plain Python: validation raises/collects failures on the
driver, and the row→JSON mappers (api/mappers.go:19-94) map the
driver rows of one page (<= MAX_LIMIT) that plans/queries.py's Arrow
serving functions return.

The Spark mappers (records_to_api, pulses_to_api, jet_drops_to_api)
and serving_tables remain because perfbench/engine.py and
perfbench/spans.py name them; the REST edge does not call them.

Nothing here shuffles or scans: it parameterizes plans/queries.py.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from urllib.parse import unquote

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from block_explorer_spark.functions import jets
from block_explorer_spark.functions.refs import base58_encode, parse_reference

DEFAULT_LIMIT = 20
MAX_LIMIT = 1000

#: X12 — platform pulse range (api/handlers.go:302,321,407).
MIN_PULSE = 65536
MAX_PULSE = 4294967295

SORT_BY_INDEX = ("index_desc", "index_asc")  # api/handlers.go:566-578
SORT_BY_PULSE = (  # api/handlers.go:705-723; wire literal uses the
    # comma form — the generated enum VALUE, not its Go identifier
    # (test/api raw query: sort_by=pulse_number_asc,jet_id_desc,
    # handlers_test.go:1681-1737)
    "pulse_number_asc,jet_id_desc",
    "pulse_number_desc,jet_id_asc",
)
SORT_BY_PULSE_NUMBER = ("pulse_number_asc", "pulse_number_desc")  # api/handlers.go:727-747

#: jet-id path values: "*" (root) or 1-216 binary digits
#: (api/handlers.go:30-31).
JET_ID_PATH_RE = re.compile(r"^(\*|[0-1]{1,216})$")


@dataclass(frozen=True)
class ValidationFailure:
    """One (property, failure_reason) pair, the reference's
    CodeValidationFailures shape."""

    property: str
    failure_reason: str


class ValidationError(Exception):
    """Raised when request params fail validation; carries the full
    failure list (the reference returns HTTP 400 with all failures)."""

    def __init__(self, failures: list[ValidationFailure]):
        self.failures = failures
        super().__init__("; ".join(f"{f.property}: {f.failure_reason}" for f in failures))


def check_limit_offset(
    limit: int | None, offset: int | None
) -> tuple[int, int, list[ValidationFailure]]:
    """limit default 20, range [1, 1000]; offset default 0, >= 0.

    reference: api/handlers.go:678-703
    """
    failures: list[ValidationFailure] = []
    limit = DEFAULT_LIMIT if limit is None else limit
    if limit <= 0 or limit > MAX_LIMIT:
        failures.append(ValidationFailure("limit", "should be in range [1, 1000]"))
    offset = 0 if offset is None else offset
    if offset < 0:
        failures.append(ValidationFailure("offset", "should not be negative"))
    return limit, offset, failures


def check_sort_by_index(sort_by: str | None) -> tuple[bool, list[ValidationFailure]]:
    """Lifeline/record sort param -> ascending flag (default desc).

    reference: api/handlers.go:566-578
    """
    if sort_by is None:
        return False, []
    if sort_by not in SORT_BY_INDEX:
        return False, [
            ValidationFailure("sort_by", f"should be '{SORT_BY_INDEX[0]}' or '{SORT_BY_INDEX[1]}'")
        ]
    return sort_by == "index_asc", []


def check_sort_by_pulse(sort_by: str | None) -> tuple[bool, list[ValidationFailure]]:
    """Jet-drops-by-jet sort param -> pulse-ascending flag (default desc).

    reference: api/handlers.go:705-723
    """
    if sort_by is None:
        return False, []
    if sort_by not in SORT_BY_PULSE:
        return False, [
            ValidationFailure(
                "sort_by",
                f"query parameter 'sort_by' should be '{SORT_BY_PULSE[0]}' or '{SORT_BY_PULSE[1]}'",
            )
        ]
    return sort_by == SORT_BY_PULSE[0], []


def check_sort_by_pulse_number(sort_by: str | None) -> tuple[bool, list[ValidationFailure]]:
    """Pulses-list sort param -> pulse-number-ascending flag.

    reference: api/handlers.go:727-747
    """
    if sort_by is None:
        return False, []
    if sort_by not in SORT_BY_PULSE_NUMBER:
        return False, [
            ValidationFailure(
                "sort_by",
                "query parameter 'sort_by' should be "
                f"'{SORT_BY_PULSE_NUMBER[0]}' or '{SORT_BY_PULSE_NUMBER[1]}'",
            )
        ]
    return sort_by == SORT_BY_PULSE_NUMBER[0], []


def check_from_index(value: str) -> tuple[int, int]:
    """X3: parse a '<pulse_number>:<order>' cursor; ValueError on any
    deviation (the handlers render the failure as 'invalid').

    reference: etl/storage/storage.go:147-162
    """
    try:
        pulse, order = value.split(":")  # ValueError unless two parts
        return jets.parse_int64(pulse), jets.parse_int64(order)
    except ValueError:
        raise ValueError(
            "query parameter 'index' should have the '<pulse_number>:<order>' format"
        ) from None


def check_jet_id(value: str) -> tuple[str, list[ValidationFailure]]:
    """jet-id path param: trim, unescape, '*' | binary-digits pattern.

    Returns (storage_jet_id, failures) — '*' maps to the stored root ''.
    reference: api/handlers.go:749-781
    """
    failures: list[ValidationFailure] = []
    prop = "jet-id path parameter"
    v = value.strip()
    if not v:
        failures.append(ValidationFailure(prop, "empty value of path parameter"))
    try:
        jet_id = unquote(v, errors="strict")
    except UnicodeDecodeError:
        failures.append(ValidationFailure(prop, "cannot unescape path parameter jet-id"))
        return "", failures
    if not JET_ID_PATH_RE.match(jet_id):
        failures.append(ValidationFailure(prop, "parameter does not match with jetID valid value"))
    if failures:
        return "", failures
    return ("" if jet_id == "*" else jet_id), []


def check_record_type(value: str | None) -> tuple[str | None, list[ValidationFailure]]:
    """F7: optional record-type filter (request|state|result).

    reference: api/handlers.go:108-119
    """
    if value is None:
        return None, []
    if value not in ("request", "result", "state"):
        return value, [ValidationFailure("type", "should be 'request', 'state' or 'result'")]
    return value, []


def is_valid_pulse_number(pn: int) -> bool:
    """X12: platform pulse range check."""
    return MIN_PULSE <= pn < MAX_PULSE


def check_pulse_number(pn: int, prop: str) -> list[ValidationFailure]:
    if not is_valid_pulse_number(pn):
        return [ValidationFailure(prop, "invalid value")]
    return []


def check_reference(value: str) -> bytes:
    """X9/X11: trim, url-unescape, base58-decode; reference error texts.

    reference: api/handlers.go:658-676
    """
    value = value.strip()
    if not value:
        raise ValidationError([ValidationFailure("reference", "empty reference")])
    try:
        value = unquote(value, errors="strict")
    except UnicodeDecodeError:
        raise ValidationError([ValidationFailure("reference", "error unescaping")]) from None
    try:
        return parse_reference(value)
    except ValueError:
        raise ValidationError([ValidationFailure("reference", "wrong format")]) from None


def search_dispatch(value: str) -> tuple[str, object]:
    """GET /api/v1/search type dispatch: pulse int | jet-drop id |
    base58 reference, in that order; anything else is the reference's
    'is neither pulse number, jet drop id nor reference' failure.

    reference: api/handlers.go:458-553
    """
    # Go's strconv.Atoi (handlers.go:459) rejects what Python's int()
    # accepts — underscores ("4_000_000"), unicode digits, surrounding
    # whitespace — and overflows on >int64 digits: such inputs fall
    # through to the jet-drop/reference branches (and ultimately 'is
    # neither ...'), they do NOT report 'not valid pulse number'
    try:
        pn = jets.parse_int64(value)
    except ValueError:
        pn = None
    if pn is not None:
        if not is_valid_pulse_number(pn):
            raise ValidationError([ValidationFailure("value", "not valid pulse number")])
        return "pulse", pn
    try:
        return "jet-drop", jets.parse_jet_drop_id(value)
    except ValueError:
        pass
    try:
        return "reference", check_reference(value)
    except ValidationError:
        pass
    raise ValidationError(
        [ValidationFailure("value", "is neither pulse number, jet drop id nor reference")]
    )


# ---------------------------------------------------------------------------
# Response mappers (api/mappers.go): row mappers for the serving edge,
# column projections for DataFrame callers
# ---------------------------------------------------------------------------


def _b64(v):
    import base64

    return base64.b64encode(bytes(v)).decode("ascii") if v is not None else None


def _null_if_empty(v):
    """X10 on one value: empty or all-zero bytes read as None."""
    return None if v is None or not any(v) else v


def record_row_to_api(row: dict) -> dict:
    """RecordToAPI on one record row (the projection records_to_api
    makes, field for field); base58 refs are rendered afterwards by
    render_refs. reference: api/mappers.go:19-55"""
    display = jets.ROOT_DISPLAY if row["jet_id"] == "" else row["jet_id"]
    pn, order = row["pulse_number"], row["order"]
    return {
        "hash": _b64(row["hash"]),
        "jet_drop_id": f"{display}:{pn}",
        "jet_id": display,
        # concat_ws skips a null order
        "index": f"{pn}:{order}" if order is not None else f"{pn}",
        "payload": _b64(row["payload"]),
        "pulse_number": pn,
        "timestamp": row["timestamp"],
        "type": row["type"],
        "object_reference": _null_if_empty(row["object_reference"]),
        "prev_record_reference": _null_if_empty(row["prev_record_reference"]),
        "prototype_reference": _null_if_empty(row["prototype_reference"]),
        "reference": row["reference"],
    }


def records_to_api(records: DataFrame) -> DataFrame:
    """RecordToAPI as a projection: base64 hashes/payloads, composite
    ids, '<pn>:<order>' index; empty/all-zero refs render NULL (X10).

    Base58 object/prototype/prev refs are rendered at the driver edge
    (base58 of arbitrary-length bytes is not a JVM builtin, and the
    reference renders them per page of <= 1000 rows, not per stored
    row) — render_refs() does that on the collected page.

    reference: api/mappers.go:19-55
    """
    from block_explorer_spark.functions.refs import null_if_empty_bytes

    return records.select(
        F.base64("hash").alias("hash"),
        jets.jet_drop_id_col().alias("jet_drop_id"),
        F.when(F.col("jet_id") == "", jets.ROOT_DISPLAY).otherwise(F.col("jet_id")).alias("jet_id"),
        F.concat_ws(":", F.col("pulse_number").cast("string"), F.col("order").cast("string")).alias(
            "index"
        ),
        F.base64("payload").alias("payload"),
        "pulse_number",
        "timestamp",
        "type",
        null_if_empty_bytes("object_reference").alias("object_reference"),
        null_if_empty_bytes("prev_record_reference").alias("prev_record_reference"),
        null_if_empty_bytes("prototype_reference").alias("prototype_reference"),
        F.col("reference"),
    )


def render_refs(rows: list[dict], cols: tuple[str, ...] = (
    "object_reference",
    "prev_record_reference",
    "prototype_reference",
    "reference",
)) -> list[dict]:
    """Driver-edge base58 rendering of reference byte columns on a
    collected page (bounded by MAX_LIMIT)."""
    out = []
    for row in rows:
        row = dict(row)
        for c in cols:
            if row.get(c) is not None:
                row[c] = base58_encode(bytes(row[c]))
        out.append(row)
    return out


def pulses_to_api(pulses: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """PulseToAPI: -1 prev/next sentinels become NULL (omitted fields).

    `extra` columns (e.g. the lazy `__total`) pass through unmapped.
    reference: api/mappers.go:57-75
    """
    null_if_sentinel = lambda c: F.when(F.col(c) == -1, F.lit(None)).otherwise(F.col(c))  # noqa: E731
    return pulses.select(
        "pulse_number",
        null_if_sentinel("prev_pulse_number").alias("prev_pulse_number"),
        null_if_sentinel("next_pulse_number").alias("next_pulse_number"),
        "is_complete",
        "jet_drop_amount",
        "record_amount",
        "timestamp",
        *extra,
    )


def pulse_row_to_api(row: dict) -> dict:
    """PulseToAPI on one pulse row (the mapping pulses_to_api
    projects): the 7 API fields, -1 prev/next sentinels become None.
    reference: api/mappers.go:57-75"""
    return {
        "pulse_number": row["pulse_number"],
        "prev_pulse_number": None
        if row["prev_pulse_number"] == -1
        else row["prev_pulse_number"],
        "next_pulse_number": None
        if row["next_pulse_number"] == -1
        else row["next_pulse_number"],
        "is_complete": row["is_complete"],
        "jet_drop_amount": row["jet_drop_amount"],
        "record_amount": row["record_amount"],
        "timestamp": row["timestamp"],
    }


def jet_drop_row_to_api(row: dict) -> dict:
    """JetDropToAPI on one jet-drop row (the mapping jet_drops_to_api
    projects): base64 hash, composite id, display jet id.
    reference: api/mappers.go:77-95"""
    display = jets.ROOT_DISPLAY if row["jet_id"] == "" else row["jet_id"]
    return {
        "hash": _b64(row["hash"]),
        "jet_drop_id": f"{display}:{row['pulse_number']}",
        "jet_id": display,
        "pulse_number": row["pulse_number"],
        "record_amount": row["record_amount"],
        "timestamp": row["timestamp"],
    }


def jet_drops_to_api(drops: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """JetDropToAPI: base64 hash + composite id + display jet id.

    `extra` columns (e.g. the lazy `__total`) pass through unmapped.
    reference: api/mappers.go:77-95
    """
    return drops.select(
        F.base64("hash").alias("hash"),
        jets.jet_drop_id_col().alias("jet_drop_id"),
        F.when(F.col("jet_id") == "", jets.ROOT_DISPLAY).otherwise(F.col("jet_id")).alias("jet_id"),
        "pulse_number",
        F.col("record_amount").cast("long").alias("record_amount"),
        "timestamp",
        *extra,
    )


def serving_tables(*tables: DataFrame, target_partitions: int = 2):
    """Prepare dimension tables for point-serving: coalesce to a few
    partitions and pin in memory. The REST edge no longer needs this
    (BlockExplorerApi reads the store itself or collects its frames
    once); perfbench/engine.py and scripts/loadtest.py's in-process
    mode still call it.

    Many small Spark queries over a dimension cached across 32
    partitions each schedule 32 tasks to touch a few hundred rows, and
    task-launch overhead — not I/O — dominates. Dims the size of the
    pulse/jet-drop tables belong in 1-4 partitions; the records table
    is not a cache candidate (read it through the store's pruned
    reads), so pass only the dims you want pinned."""
    out = []
    for df in tables:
        cached = df.coalesce(target_partitions).cache()
        cached.count()  # materialize before serving traffic
        out.append(cached)
    return tuple(out)
