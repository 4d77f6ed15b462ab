"""Control plane decisions: the sequential advancer (D5) and the gap
scan (D6) as pure functions.

The reference keeps an in-memory jet-drop register guarded by a mutex
plus two polling goroutines (etl/controller/controller.go:100-132).
Here the register is the tables: streaming/pipeline.run_control_pass
sweeps them bucket by bucket on the driver, checks completeness (D4)
with functions.jets.trie_covered and feeds these walks — the same
property the reference relies on at startup when it rebuilds state
from the DB (etl/controller/controller.go:55-78), so restarts and
replays need no recovery logic at all.
"""

from __future__ import annotations


def _sequential_walk(
    frontier: int | None, rows: list[tuple[int, int | None]]
) -> list[int]:
    """D5: the pulses to flag is_sequential, from the complete,
    not-yet-sequential (pulse_number, prev_pulse_number) pairs above
    the sequential `frontier` (None: no pulse is sequential yet),
    already ordered by pulse_number. Walks the prev-link chain from
    the frontier (or from the first candidate as the new root) and
    stops at the first break, a gap or an incomplete pulse. A walk
    resumed with its last accepted pulse as `frontier` continues
    exactly where it stopped, so a caller may feed it bucket by bucket.

    reference: etl/controller/pulsemaintainer.go:86-143
    """
    out: list[int] = []
    prev = frontier
    for pn, prev_pn in rows:
        if prev is not None and prev_pn != prev:
            break
        if prev is None and frontier is None:
            # chain start: accept the first candidate as the new root
            out.append(pn)
            prev = pn
            continue
        out.append(pn)
        prev = pn
    return out


def _gaps_walk(keys: list[int], step: int = 10) -> list[tuple[int, int]]:
    """D6 input: (from, to) exclusive pulse ranges missing from storage,
    as consecutive keys in sorted order whose stride is not `step`;
    each becomes a reload range request, matching the reference's
    re-extraction of `(from, to)` (etl/controller/pulsemaintainer.go:214-227)."""
    ks = sorted(keys)
    return [(a, b) for a, b in zip(ks, ks[1:]) if b != a + step]


