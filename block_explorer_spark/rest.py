"""Thin HTTP facade over the 8-endpoint public query surface.

The reference serves its storage API behind echo HTTP handlers
(api/handlers.go) whose observable contract — URL shapes, status
codes, the CodeValidationError body with its per-endpoint quirks, the
response envelopes — is pinned by api/handlers_test.go. This module
reproduces that wire contract with the stdlib ThreadingHTTPServer:
routing + JSON rendering only. All validation lives in api.py and all
query semantics in plans/queries.py's Arrow serving functions.

A request is answered on the driver. Against a store
(`BlockExplorerApi(warehouse_base=...)`) it reads one manifest
snapshot, prunes to the files its pulse bounds or object reference
can touch, and scans only those with pyarrow, so a pulse committed
after the server started is served at once and a page costs a few
file opens, not a Spark job. Inputs over placement.MERGE_BYTES (or a
frame too big to collect) run the same scan through mapInArrow and
merge the partial answers on the driver.

Endpoint -> handler parity map (reference api/handlers.go):
  GET /api/v1/pulses                         Pulses            :311
  GET /api/v1/pulses/{pulse}                 Pulse             :389
  GET /api/v1/pulses/{pulse}/jet-drops       JetDropsByPulse   :404
  GET /api/v1/jet-drops/{id}                 JetDropByID       :45
  GET /api/v1/jet-drops/{id}/records         JetDropRecords    :83
  GET /api/v1/jets/{jet_id}/jet-drops        JetDropsByJetID   :150
  GET /api/v1/lifeline/{ref}/records         ObjectLifeline    :555
  GET /api/v1/search                         Search            :458

Body-shape quirks preserved (handlers.go):
  - most 400s: {"code": "Bad Request", "message": ..., "validation_failures": [...]}
  - JetDropByID / JetDropsByPulseNumber use code "400" (strconv.Itoa,
    handlers.go:49,424) instead of the status text;
  - Search renders the message under "description" (handlers.go:482-488);
  - 404 and 500 bodies are the empty object {}.
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

import pyarrow as pa
from pyspark.sql import DataFrame

from block_explorer_spark import api, placement
from block_explorer_spark.functions import jets
from block_explorer_spark.functions.refs import base58_encode
from block_explorer_spark.metrics import MetricsRegistry
from block_explorer_spark.plans import queries as Q
from block_explorer_spark.sources import manifest as Mf
from block_explorer_spark.sources import parquet as pq

INVALID_PARAMS_MESSAGE = "Invalid query or path parameters"  # handlers.go:28


class HttpError(Exception):
    def __init__(self, status: int, body: dict):
        self.status = status
        self.body = body
        super().__init__(f"HTTP {status}")


def _validation_error(
    failures: list[api.ValidationFailure],
    code: str = "Bad Request",
    message_field: str = "message",
) -> HttpError:
    return HttpError(
        400,
        {
            "code": code,
            message_field: INVALID_PARAMS_MESSAGE,
            "validation_failures": [
                {"property": f.property, "failure_reason": f.failure_reason} for f in failures
            ],
        },
    )


def _int_param(params: dict, name: str, failures: list) -> int | None:
    """Parse an integer query param; a non-integer value is the echo
    binding failure (HTTP 400) the reference produces before the
    handler runs (spec types the param int64)."""
    if name not in params:
        return None
    try:
        return jets.parse_int64(params[name][0])
    except ValueError:
        failures.append(api.ValidationFailure(name, "invalid value"))
        return None


def _limit_offset(params: dict) -> tuple[int, int, list]:
    """The limit/offset query params: parsed as int64 (`_int_param`),
    then defaulted and range-checked (`api.check_limit_offset`)."""
    failures: list = []
    limit = _int_param(params, "limit", failures)
    offset = _int_param(params, "offset", failures)
    limit, offset, range_failures = api.check_limit_offset(limit, offset)
    return limit, offset, failures + range_failures


def _strip_none(d: dict) -> dict:
    """omitempty: the generated Go models drop nil pointer fields."""
    return {k: v for k, v in d.items() if v is not None}


class _StoreTables:
    """The `tables` source (plans/queries.py) of one request against a
    store: one manifest snapshot, files pruned through the pulse zone
    maps or the object index, and only the serving columns read. The
    pruned files' on-disk bytes place the scan: at or under
    placement.MERGE_BYTES it runs on the driver, above it through
    mapInArrow."""

    def __init__(self, spark, base: str):
        self.spark = spark
        self.base = base
        self.snap = Mf.read(base)

    def read(self, name, where=None, sort=(), n=None, cols=None, lo=None, hi=None, obj=None):
        cols = cols or Q.SERVING_COLS[name]
        if obj is not None:
            rels = pq._object_rels(self.base, self.snap, obj, lo, hi)
        else:
            _m, rels = pq._pulse_rels(self.base, name, lo, hi, self.snap)
        if pq._rels_bytes(self.base, rels) <= placement.MERGE_BYTES:
            tbl = pq._read_rels_arrow(self.base, name, rels, cols).select(cols)
            parts = Q.scan(tbl, where, sort, n)
        else:
            df = pq._read_rels(self.spark, self.base, name, rels).select(*cols)
            parts = Q.scan_frame(df, where, sort, n)
        return Q.merge(parts, sort, n)

    def spans(self, name, pn, below):
        """The snapshot's pulse buckets on one side of `pn`, nearest
        first, as inclusive pulse ranges."""
        size = pq.PULSE_BUCKET_SIZE
        buckets = {pq._rel_bucket(r) for r in self.snap["families"].get(name, [])}
        own = pn // size
        if below:
            return [
                (b * size, min(b * size + size - 1, pn - 1))
                for b in sorted((b for b in buckets if b is not None and b <= own), reverse=True)
            ]
        return [
            (max(b * size, pn + 1), b * size + size - 1)
            for b in sorted(b for b in buckets if b is not None and b >= own)
        ]


def _collected(df: DataFrame, name: str):
    """A frame as a pyarrow.Table of its serving columns when
    placement.collect_bounded admits it, else the frame itself."""
    src = df.select(*Q.SERVING_COLS[name])
    tbl = placement.collect_bounded(src)
    if tbl is None:
        return src
    return tbl.cast(pa.schema([pq._arrow_schema(name).field(c) for c in Q.SERVING_COLS[name]]))


class BlockExplorerApi:
    """Transport-free endpoint logic: dict params in, (status, body) out.

    Every public method mirrors one reference handler, including its
    failure-accumulation order, and answers through one Arrow function
    of plans/queries.py. With `warehouse_base`, each request reads a
    fresh manifest snapshot of that store (_StoreTables), so a pulse
    committed after the server started is served; the frames are then
    not touched. Without it, the three frames are collected once here
    (placement.collect_bounded) and scanned on the driver; a frame too
    big to collect is scanned through mapInArrow per request. `spark`
    (default: the frames' session) runs the scans placed on Spark.
    """

    def __init__(
        self,
        pulses: DataFrame | None = None,
        jet_drops: DataFrame | None = None,
        records: DataFrame | None = None,
        warehouse_base: str | None = None,
        spark=None,
    ):
        self.warehouse_base = warehouse_base
        self.spark = spark if spark is not None else getattr(pulses, "sparkSession", None)
        self._frames = None
        if warehouse_base is None:
            self._frames = Q.ArrowTables(
                pulses=_collected(pulses, "pulses"),
                jet_drops=_collected(jet_drops, "jet_drops"),
                records=_collected(records, "records"),
            )
        # SEARCH MODE (round-8 continuation): pass a committed
        # postings-index base (retrieval.write_postings_index — with
        # positions=True for the phrase/context endpoints) and the
        # documents DataFrame to serve /api/v1/search/* — keyword BM25
        # from the index (auto full-vs-MaxScore policy), exact-phrase
        # hits from the positional family, and KWIC context windows.
        # Unconfigured, those routes answer 404 like any unknown path.
        self.search_index: str | None = None
        self.search_docs: DataFrame | None = None
        # Continuous per-endpoint timers, observed on EVERY request by
        # the HTTP handler (reference parity: the Prometheus timers of
        # etl/storage/storage_metrics.go:1-125 run in normal operation,
        # not only under bench). Served at /metrics (+ /metrics.json).
        self.metrics = MetricsRegistry()

    def _tables(self):
        """This request's `tables` source."""
        if self.warehouse_base is not None:
            return _StoreTables(self.spark, self.warehouse_base)
        return self._frames

    # -- rendering -----------------------------------------------------

    @staticmethod
    def _render_records(rows: list[dict], total: int) -> dict:
        rendered = api.render_refs([api.record_row_to_api(r) for r in rows])
        return {"total": total, "result": [_strip_none(r) for r in rendered]}

    @staticmethod
    def _prev_next_entry(row) -> dict:
        """transformPrevNextResp (api/handlers.go:785-793)."""
        return {
            "jet_id": jets.storage_to_display(row["jet_id"]),
            "jet_drop_id": f"{jets.storage_to_display(row['jet_id'])}:{row['pulse_number']}",
            "pulse_number": row["pulse_number"],
        }

    def _render_drop(self, row: dict, prev: list[dict], nxt: list[dict]) -> dict:
        rendered = _strip_none(api.jet_drop_row_to_api(row))
        rendered["prev_jet_drop_id"] = prev
        rendered["next_jet_drop_id"] = nxt
        return rendered

    # -- warmup --------------------------------------------------------

    def warmup(self) -> int:
        """One dry request per endpoint before traffic, so the first
        real requests skip the Arrow path's first-call costs. Params
        come from the newest pulse, a jet drop and a record when the
        tables hold them; on an empty store the miss paths run. A 4xx
        answer counts as warmed; any other error propagates. Returns
        the number of endpoints warmed."""
        t = self._tables()
        _, p = t.read("pulses", sort=[("pulse_number", False)], n=1, cols=["pulse_number"])
        _, d = t.read("jet_drops", n=1, cols=["jet_id", "pulse_number"])
        _, r = t.read("records", n=1, cols=["object_reference"])
        pn = str(p.column("pulse_number")[0]) if p.num_rows else "65537"
        if d.num_rows:
            jet_disp = jets.storage_to_display(d.column("jet_id")[0].as_py())
            drop_pn = d.column("pulse_number")[0].as_py()
        else:
            jet_disp, drop_pn = "*", 65537
        drop_id = f"{jet_disp}:{drop_pn}"
        obj = r.column("object_reference")[0].as_py() if r.num_rows else None
        ref = base58_encode(obj or b"\x01" * 32)
        # params are parse_qs-shaped: every value is a list
        calls = [
            lambda: self.pulses_list({"limit": ["20"]}),
            lambda: self.pulse_by_number(pn),
            lambda: self.jet_drops_by_pulse(str(drop_pn), {"limit": ["20"]}),
            lambda: self.jet_drop_by_id(drop_id),
            lambda: self.jet_drops_by_jet_id(jet_disp, {"limit": ["20"]}),
            lambda: self.jet_drop_records(drop_id, {"limit": ["20"]}),
            lambda: self.object_lifeline(ref, {"limit": ["20"]}),
            lambda: self.search({"value": [ref]}),
        ]
        if self.search_index is not None:
            calls += [
                lambda: self.search_documents({"query": ["warm"]}),
                lambda: self.search_phrase({"phrase": ["warm up"]}),
                lambda: self.search_context({"term": ["warm"]}),
            ]
        for call in calls:
            try:
                call()
            except HttpError:
                pass  # 4xx/miss path: the endpoint still ran
        return len(calls)

    # -- endpoints -----------------------------------------------------

    def object_lifeline(self, ref_path: str, params: dict) -> tuple[int, dict]:
        """reference: api/handlers.go:555-646"""
        limit, offset, failures = _limit_offset(params)
        ref = None
        try:
            ref = api.check_reference(unquote(ref_path))
        except api.ValidationError as e:
            failures.append(
                api.ValidationFailure("object_reference", e.failures[0].failure_reason)
            )
        ascending, sort_failures = api.check_sort_by_index(
            params["sort_by"][0] if "sort_by" in params else None
        )
        failures += sort_failures
        cursor = None
        if "from_index" in params:
            try:
                cursor = api.check_from_index(params["from_index"][0])
            except ValueError:
                failures.append(api.ValidationFailure("from_index", "invalid"))
        pulse_gt = _int_param(params, "pulse_number_gt", failures)
        if pulse_gt is not None:
            failures += api.check_pulse_number(pulse_gt, "pulse_number_gt")
        pulse_lt = _int_param(params, "pulse_number_lt", failures)
        if pulse_lt is not None:
            failures += api.check_pulse_number(pulse_lt, "pulse_number_lt")
        ts_gte = _int_param(params, "timestamp_gte", failures)
        ts_lte = _int_param(params, "timestamp_lte", failures)
        if failures:
            raise _validation_error(failures)
        rows, total = Q.get_lifeline_rows(
            self._tables(),
            ref,
            cursor=cursor,
            pulse_gt=pulse_gt,
            pulse_lt=pulse_lt,
            ts_gte=ts_gte,
            ts_lte=ts_lte,
            ascending=ascending,
            limit=limit,
            offset=offset,
        )
        return 200, self._render_records(rows, total)

    def jet_drop_records(self, jet_drop_id: str, params: dict) -> tuple[int, dict]:
        """reference: api/handlers.go:83-148"""
        limit, offset, failures = _limit_offset(params)
        jet_id = pulse_number = None
        try:
            jet_id, pulse_number = jets.parse_jet_drop_id(jet_drop_id)
        except ValueError:
            failures.append(api.ValidationFailure("jet_drop_id", "invalid"))
        cursor = None
        if "from_index" in params:
            try:
                cursor = api.check_from_index(params["from_index"][0])
            except ValueError:
                failures.append(api.ValidationFailure("from_index", "invalid"))
        record_type, type_failures = api.check_record_type(
            params["type"][0] if "type" in params else None
        )
        failures += type_failures
        if failures:
            raise _validation_error(failures)
        rows, total = Q.get_records_by_jet_drop_rows(
            self._tables(),
            jet_id,
            pulse_number,
            record_type=record_type,
            cursor=cursor,
            limit=limit,
            offset=offset,
        )
        return 200, self._render_records(rows, total)

    def jet_drops_by_jet_id(self, jet_id_path: str, params: dict) -> tuple[int, dict]:
        """reference: api/handlers.go:150-242 (default limit 1000 per
        the reference's own FIXME PENV-505, handlers.go:153-156)"""
        failures: list[api.ValidationFailure] = []
        limit = _int_param(params, "limit", failures)
        if limit is None:
            limit = 1000
        else:
            limit, _, range_failures = api.check_limit_offset(limit, None)
            failures += range_failures
        jet_id, jet_failures = api.check_jet_id(jet_id_path)
        failures += jet_failures
        ascending, sort_failures = api.check_sort_by_pulse(
            params["sort_by"][0] if "sort_by" in params else None
        )
        failures += sort_failures
        bounds = {}
        for name in ("pulse_number_gt", "pulse_number_gte", "pulse_number_lt", "pulse_number_lte"):
            v = _int_param(params, name, failures)
            if v is not None:
                failures += api.check_pulse_number(v, name)
            bounds[name] = v
        if failures:
            raise _validation_error(failures)
        raw_rows, total, adj_rows = Q.get_jet_drops_by_jet_id_rows(
            self._tables(),
            jet_id,
            pulse_gt=bounds["pulse_number_gt"],
            pulse_gte=bounds["pulse_number_gte"],
            pulse_lt=bounds["pulse_number_lt"],
            pulse_lte=bounds["pulse_number_lte"],
            pulse_ascending=ascending,
            limit=limit,
        )
        # The reference's own shape: fetch the slice, then build
        # createNextPrevMaps in app code over the page plus the two
        # adjacent pulses' drops (api/handlers.go:207-297).
        # union + dropDuplicates([jet_id, pulse_number]), page first
        combined: dict[tuple, dict] = {}
        for r in raw_rows + adj_rows:
            combined.setdefault((r["jet_id"], r["pulse_number"]), r)
        # J4 hash-chain edges: parent.hash == child.first/second_prev_hash
        by_hash: dict[bytes, list[dict]] = {}
        for r in combined.values():
            if r["hash"] is not None:
                by_hash.setdefault(bytes(r["hash"]), []).append(r)
        prev_map: dict[str, list] = {}
        next_map: dict[str, list] = {}
        seen_edges: set[tuple] = set()
        for child in combined.values():
            for link in ("first_prev_hash", "second_prev_hash"):
                h = child[link]
                if h is None:
                    continue
                for parent in by_hash.get(bytes(h), []):
                    edge = (parent["jet_id"], parent["pulse_number"],
                            child["jet_id"], child["pulse_number"])
                    if edge in seen_edges:
                        continue
                    seen_edges.add(edge)
                    child_id = f"{jets.storage_to_display(child['jet_id'])}:{child['pulse_number']}"
                    parent_id = f"{jets.storage_to_display(parent['jet_id'])}:{parent['pulse_number']}"
                    prev_map.setdefault(child_id, []).append(self._prev_next_entry(parent))
                    next_map.setdefault(parent_id, []).append(self._prev_next_entry(child))
        drops = []
        for r in raw_rows:
            drop_id = f"{jets.storage_to_display(r['jet_id'])}:{r['pulse_number']}"
            drops.append(
                self._render_drop(r, prev_map.get(drop_id, []), next_map.get(drop_id, []))
            )
        return 200, {"total": total, "result": drops}

    def pulses_list(self, params: dict) -> tuple[int, dict]:
        """reference: api/handlers.go:311-388"""
        limit, offset, failures = _limit_offset(params)
        from_pulse = _int_param(params, "from_pulse_number", failures)
        if from_pulse is not None and not api.is_valid_pulse_number(from_pulse):
            failures.append(api.ValidationFailure("pulse", "invalid"))
        bounds = {}
        for name in ("pulse_number_gt", "pulse_number_gte", "pulse_number_lt", "pulse_number_lte"):
            v = _int_param(params, name, failures)
            if v is not None:
                failures += api.check_pulse_number(v, name)
            bounds[name] = v
        ascending, sort_failures = api.check_sort_by_pulse_number(
            params["sort_by"][0] if "sort_by" in params else None
        )
        failures += sort_failures
        ts_gte = _int_param(params, "timestamp_gte", failures)
        ts_lte = _int_param(params, "timestamp_lte", failures)
        if failures:
            raise _validation_error(failures)
        raw_rows, total = Q.get_pulses_rows(
            self._tables(),
            from_pulse=from_pulse,
            ts_gte=ts_gte,
            ts_lte=ts_lte,
            pulse_gt=bounds["pulse_number_gt"],
            pulse_gte=bounds["pulse_number_gte"],
            pulse_lt=bounds["pulse_number_lt"],
            pulse_lte=bounds["pulse_number_lte"],
            ascending=ascending,
            limit=limit,
            offset=offset,
        )
        rows = [api.pulse_row_to_api(r) for r in raw_rows]
        return 200, {"total": total, "result": [_strip_none(r) for r in rows]}

    def pulse_by_number(self, pulse_path: str) -> tuple[int, dict]:
        """reference: api/handlers.go:389-402 (non-integer / overflowing
        path values are echo binding failures -> 400)"""
        try:
            pulse_number = jets.parse_int64(pulse_path)
        except ValueError:
            raise HttpError(400, {}) from None
        row = Q.get_pulse_row(self._tables(), pulse_number)
        if row is None:
            raise HttpError(404, {})
        return 200, _strip_none(api.pulse_row_to_api(row))

    def jet_drops_by_pulse(self, pulse_path: str, params: dict) -> tuple[int, dict]:
        """reference: api/handlers.go:404-456 (code rendered '400')"""
        try:
            pulse_number = jets.parse_int64(pulse_path)
        except ValueError:
            raise HttpError(400, {}) from None
        limit, offset, failures = _limit_offset(params)
        if not api.is_valid_pulse_number(pulse_number):
            failures.append(api.ValidationFailure("pulse", "invalid"))
        from_jet_id = None
        if "from_jet_drop_id" in params:
            try:
                from_jet_id, _ = jets.parse_jet_drop_id(params["from_jet_drop_id"][0])
            except ValueError:
                failures.append(api.ValidationFailure("jet drop id", "invalid"))
        if failures:
            raise _validation_error(failures, code="400")
        rows, total = Q.get_jet_drops_by_pulse_rows(
            self._tables(), pulse_number, from_jet_id=from_jet_id, limit=limit, offset=offset
        )
        return 200, {"total": total, "result": [self._render_drop(r, [], []) for r in rows]}

    def jet_drop_by_id(self, jet_drop_id: str) -> tuple[int, dict]:
        """reference: api/handlers.go:45-81 (code rendered '400',
        failure reason wrapped 'invalid: ...')"""
        try:
            jet_id, pulse_number = jets.parse_jet_drop_id(jet_drop_id)
        except ValueError as e:
            raise _validation_error(
                [api.ValidationFailure("jet drop id", f"invalid: {e}")], code="400"
            ) from None
        drop, prev, nxt = Q.get_jet_drop_by_id_rows(self._tables(), jet_id, pulse_number)
        if not drop:
            raise HttpError(404, {})
        return 200, self._render_drop(
            drop[0],
            [self._prev_next_entry(r) for r in prev],
            [self._prev_next_entry(r) for r in nxt],
        )

    def search(self, params: dict) -> tuple[int, dict]:
        """reference: api/handlers.go:458-553 (message field is
        'description' on this endpoint)"""
        value = params["value"][0] if "value" in params else ""
        try:
            kind, parsed = api.search_dispatch(value)
        except api.ValidationError as e:
            raise _validation_error(e.failures, message_field="description") from None
        if kind == "pulse":
            return 200, {"type": "pulse", "meta": {"pulse_number": parsed}}
        if kind == "jet-drop":
            return 200, {"type": "jet-drop", "meta": {"jet_drop_id": value}}
        # reference bytes: object refs answer as a lifeline, record refs
        # as the record with its index (searchReferencePulse).
        kind, rec = Q.search_reference(self._tables(), parsed)
        if kind == "lifeline":
            return 200, {
                "type": "lifeline",
                "meta": {"object_reference": base58_encode(bytes(parsed))},
            }
        if kind == "record":
            return 200, {
                "type": "record",
                "meta": {
                    "index": f"{rec['pulse_number']}:{rec['order']}",
                    "object_reference": base58_encode(bytes(rec["object_reference"])),
                },
            }
        raise _validation_error(
            [api.ValidationFailure("value", "record reference not found")],
            message_field="description",
        )

    # -- search endpoints (engine extension; not a reference surface) --

    def attach_search(self, docs: DataFrame, index_base: str) -> None:
        """Enable /api/v1/search/*: `index_base` is a committed
        postings index (positions=True unlocks phrase/context)."""
        self.search_docs = docs
        self.search_index = index_base

    def _search_terms(self, params: dict, field: str = "query") -> list[str]:
        raw = params[field][0] if field in params else ""
        terms = [t for t in raw.lower().split() if t]
        if not terms:
            raise _validation_error(
                [api.ValidationFailure(field, "empty or missing")]
            )
        return terms

    def _search_limit(self, params: dict, default: int = 20) -> int:
        failures: list = []
        limit = _int_param(params, "limit", failures)
        if failures:
            raise _validation_error(failures)
        limit = default if limit is None else limit
        if not 1 <= limit <= 100:
            raise _validation_error(
                [api.ValidationFailure("limit", "should be in range [1, 100]")]
            )
        return limit

    def search_documents(self, params: dict) -> tuple[int, dict]:
        """BM25 top-k from the committed index — the auto serving
        policy (full vs MaxScore at the measured crossover)."""
        if self.search_index is None:
            return 404, {}
        from block_explorer_spark.operators import retrieval as R

        terms = self._search_terms(params)
        limit = self._search_limit(params)
        spark = self.search_docs.sparkSession
        rows = R.bm25_search(spark, self.search_index, terms, topk=limit).collect()
        return 200, {
            "total": len(rows),
            "result": [
                {"doc_id": r["doc_id"], "score": r["score"]} for r in rows
            ],
        }

    def search_phrase(self, params: dict) -> tuple[int, dict]:
        """Exact-phrase hits from the positional family."""
        if self.search_index is None:
            return 404, {}
        from block_explorer_spark.operators import retrieval as R

        words = self._search_terms(params, field="phrase")
        if len(words) < 2:
            raise _validation_error(
                [api.ValidationFailure("phrase", "needs at least two words")]
            )
        limit = self._search_limit(params)
        spark = self.search_docs.sparkSession
        try:
            page = (
                R.phrase_search_indexed(spark, self.search_index, words)
                .orderBy("doc_id")
                .limit(limit)
                .collect()
            )
        except FileNotFoundError:
            raise _validation_error(
                [api.ValidationFailure("phrase", "index has no positional family")]
            ) from None
        return 200, {
            "total": len(page),
            "result": [
                {"doc_id": r["doc_id"], "n_occurrences": r["n_occurrences"]}
                for r in page
            ],
        }

    def search_context(self, params: dict) -> tuple[int, dict]:
        """KWIC context windows for one term (reviewer view)."""
        if self.search_index is None:
            return 404, {}
        from block_explorer_spark.operators import retrieval as R

        term = self._search_terms(params, field="term")
        if len(term) != 1:
            raise _validation_error(
                [api.ValidationFailure("term", "exactly one word")]
            )
        limit = self._search_limit(params)
        spark = self.search_docs.sparkSession
        try:
            page = (
                R.kwic_snippets_indexed(
                    spark, self.search_index, self.search_docs, term[0]
                )
                .orderBy("doc_id", "pos")
                .limit(limit)
                .collect()
            )
        except FileNotFoundError:
            raise _validation_error(
                [api.ValidationFailure("term", "index has no positional family")]
            ) from None
        except ValueError as e:  # broadcast bound: stopword-scale term
            raise _validation_error(
                [api.ValidationFailure("term", str(e))]
            ) from None
        return 200, {
            "total": len(page),
            "result": [
                {"doc_id": r["doc_id"], "pos": r["pos"], "snippet": r["snippet"]}
                for r in page
            ],
        }


# ---------------------------------------------------------------------------
# HTTP transport
# ---------------------------------------------------------------------------

#: (metric_name, pattern, handler) — names match the reference's
#: loadtest endpoint labels (load/run_configs/all_sequence.yaml).
_ROUTES = [
    ("get_pulses", re.compile(r"^/api/v1/pulses$"), lambda a, m, p: a.pulses_list(p)),
    (
        "get_pulse",
        re.compile(r"^/api/v1/pulses/([^/]+)$"),
        lambda a, m, p: a.pulse_by_number(m.group(1)),
    ),
    (
        "get_jet_drops_by_pulse_number",
        re.compile(r"^/api/v1/pulses/([^/]+)/jet-drops$"),
        lambda a, m, p: a.jet_drops_by_pulse(m.group(1), p),
    ),
    (
        "get_jet_drop_by_id",
        re.compile(r"^/api/v1/jet-drops/([^/]+)$"),
        lambda a, m, p: a.jet_drop_by_id(unquote(m.group(1))),
    ),
    (
        # [^/]* not [^/]+: an empty jet drop id must still bind so
        # validation can reject it with 400 (e2e C5334) — a non-match
        # would fall through to the catch-all 404 instead.
        "get_records",
        re.compile(r"^/api/v1/jet-drops/([^/]*)/records$"),
        lambda a, m, p: a.jet_drop_records(unquote(m.group(1)), p),
    ),
    (
        "get_jet_drops_by_jet_id",
        re.compile(r"^/api/v1/jets/([^/]*)/jet-drops$"),
        lambda a, m, p: a.jet_drops_by_jet_id(m.group(1), p),
    ),
    (
        "get_lifeline",
        re.compile(r"^/api/v1/lifeline/([^/]+)/records$"),
        lambda a, m, p: a.object_lifeline(m.group(1), p),
    ),
    ("search", re.compile(r"^/api/v1/search$"), lambda a, m, p: a.search(p)),
    (
        "search_documents",
        re.compile(r"^/api/v1/search/documents$"),
        lambda a, m, p: a.search_documents(p),
    ),
    (
        "search_phrase",
        re.compile(r"^/api/v1/search/phrase$"),
        lambda a, m, p: a.search_phrase(p),
    ),
    (
        "search_context",
        re.compile(r"^/api/v1/search/context$"),
        lambda a, m, p: a.search_context(p),
    ),
]


class _Handler(BaseHTTPRequestHandler):
    api: BlockExplorerApi  # set by serve()

    def log_message(self, *args):  # quiet
        pass

    def do_GET(self):  # noqa: N802 (stdlib naming)
        import time

        parsed = urlparse(self.path)
        # keep_blank_values: '?from_jet_drop_id=' is a PRESENT empty
        # param — echo binds it and validation rejects it (e2e C5234);
        # dropping it would silently un-filter instead
        params = parse_qs(parsed.query, keep_blank_values=True)
        if parsed.path == "/metrics":  # Prometheus exposition text
            return self._reply_text(200, self.api.metrics.prometheus_text())
        if parsed.path == "/metrics.json":
            return self._reply(200, self.api.metrics.snapshot_with_spark(self.api.spark))
        for name, pattern, fn in _ROUTES:
            m = pattern.match(parsed.path)
            if m:
                t0 = time.perf_counter()
                try:
                    status, body = fn(self.api, m, params)
                except HttpError as e:
                    status, body = e.status, e.body
                except Exception:  # noqa: BLE001 - the one counted site:
                    # any other fault is a 500 with the opaque {} body,
                    # observed below with error=True
                    import traceback

                    traceback.print_exc()
                    status, body = 500, {}
                # error = server fault only; validation 4xx is a
                # well-formed reply (the reference's error counters
                # track handler failures the same way)
                self.api.metrics.observe(
                    name, time.perf_counter() - t0, error=status >= 500
                )
                return self._reply(status, body)
        self._reply(404, {})

    def do_POST(self):  # noqa: N802 (stdlib naming)
        if urlparse(self.path).path == "/metrics/reset":
            self.api.metrics.reset()
            return self._reply(200, {"reset": True})
        self._reply(404, {})

    def _reply_text(self, status: int, text: str):
        data = text.encode()
        self.send_response(status)
        self.send_header("Content-Type", "text/plain; version=0.0.4")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def _reply(self, status: int, body: dict):
        data = json.dumps(body).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)


def serve(
    api_impl: BlockExplorerApi, port: int = 0, warm: bool = True
) -> ThreadingHTTPServer:
    """Start the facade on a daemon thread; returns the bound server
    (server.server_address[1] is the actual port). Requests run on
    their own threads; a scan placed on Spark is thread-safe there
    too.

    `warm`: run one dry request per endpoint before accepting traffic
    (BlockExplorerApi.warmup), so the first real requests skip the
    read path's first-call costs. Warmup calls go straight to the API
    object, so the /metrics timers only ever see real traffic; an
    error other than a 4xx propagates from here."""
    if warm:
        api_impl.warmup()
    handler = type("BoundHandler", (_Handler,), {"api": api_impl})
    server = ThreadingHTTPServer(("127.0.0.1", port), handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server
