"""Compute the paired Spark-vs-DuckDB ratio from one sitting's two
bench records — the comparison protocol in one command.

Usage::

    python bench.py              2>/dev/null | tail -1 > /tmp/spark.json
    python tools/duck_baseline.py 2>/dev/null | tail -1 > /tmp/duck.json
    python tools/paired_ratio.py /tmp/spark.json /tmp/duck.json

Prints the matched-entry totals, the ratio, and the ratio excluding
the literal-oracle gate entries (whose DuckDB side does none of the
work — the exclusion the r6 verdict used), plus the top per-entry
gaps. Reads the compact JSON line each tool already emits, so a
sitting's record stays reproducible from its artifacts alone.

Multi-sitting form (r10, the median protocol — single sittings on
this host spread ±15% on identical code, so any one draw against a
2× bar is a coin flip)::

    python tools/paired_ratio.py s1.json d1.json s2.json d2.json ...

Each (spark, duck) pair must be from the SAME sitting (run
back-to-back on a quiet host); the tool prints every sitting's two
ratios plus the across-sitting MEDIAN — the number to report — and
best.

``--weak`` (r13) additionally prints the perf-weak set under the
draw-stable criterion (docs/bench.md): per-entry MEDIANS across the
given sittings, an entry listed when median ratio >2× with oracle
median ≥0.05 s and Spark median ≥0.5 s (gate entries excluded —
their oracles are literal by design). Entries whose oracle median
sits under the 0.2 s floor band are annotated: their single-draw
ratio flips with the oracle draw, so membership must be read from
multi-sitting medians, never one batch.

r14 additions: each member also shows its WORST per-batch median
ratio (batches recovered from the archive filenames) — the reading
the docs/bench.md unfavorable-draw EXIT rule uses — plus a
"boundary watch" section naming non-members over 2× at any single
batch median, so the mechanized form and the prose criterion agree
at the boundary by construction. Records carrying the r14
``host_note`` stamp (launch/end 1-min load) have it echoed per
sitting.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

#: Literal-oracle gate entries, excluded in the like-for-like ratio
#: (the r6 verdict's method); frozen, see ``Entry.gate``.
GATE_ENTRIES = {e.name for e in entrymod.ENTRIES if e.gate}
#: Sub-second relational entries excluded from the weak set while
#: they stay under 1 s (a literal allow-list, see ``Entry.floor``).
RELATIONAL_FLOOR_ENTRIES = {e.name for e in entrymod.ENTRIES if e.floor}


def _load(path: str) -> dict[str, float]:
    with open(path) as f:
        text = f.read().strip()
    rec = json.loads(text.splitlines()[-1])
    return {k: float(v) for k, v in rec["queries"].items()}


def _host_note(path: str) -> str | None:
    """The r14 host_note stamp (launch/end 1-min load), if the
    record carries one — older records simply print nothing."""
    with open(path) as f:
        rec = json.loads(f.read().strip().splitlines()[-1])
    note = rec.get("host_note")
    if not isinstance(note, dict):
        return None
    return ", ".join(f"{k} {v}" for k, v in note.items())


def _batch_key(spark_path: str) -> str:
    """Batch id recovered from the record filename: the archived
    naming is ``<batch>_s<N>.json`` / ``<batch>_d<N>.json`` (e.g.
    ``r13b_s2.json`` → batch ``r13b``). A name outside that pattern
    forms its own single-sitting batch — the conservative reading
    for the worst-batch column."""
    stem = os.path.basename(spark_path)
    if stem.endswith(".json"):
        stem = stem[: -len(".json")]
    m = re.match(r"^(.*)_[sd]\d+$", stem)
    return m.group(1) if m else stem


def _sitting(spark_path: str, duck_path: str, detail: bool) -> tuple:
    """One sitting's (matched_ratio, excl_gates_ratio); prints the
    per-entry gap detail when ``detail``."""
    spark = _load(spark_path)
    duck = _load(duck_path)
    matched = sorted(set(spark) & set(duck))
    if not matched:
        raise SystemExit(
            f"no matched entries between {spark_path} and {duck_path}"
        )
    st = sum(spark[k] for k in matched)
    dt = sum(duck[k] for k in matched)
    core = [k for k in matched if k not in GATE_ENTRIES]
    st2 = sum(spark[k] for k in core)
    dt2 = sum(duck[k] for k in core)
    print(
        f"matched-{len(matched)}: spark {st:.2f}s duck {dt:.2f}s "
        f"ratio {st / dt:.2f}x"
    )
    print(
        f"excl {len(matched) - len(core)} gates: spark {st2:.2f}s "
        f"duck {dt2:.2f}s ratio {st2 / dt2:.2f}x"
    )
    if detail:
        gaps = sorted(
            ((spark[k] - duck[k], k) for k in core), reverse=True
        )
        print("top gaps (spark - duck):")
        for d, k in gaps[:8]:
            print(f"  {k}: {spark[k]:.2f} vs {duck[k]:.2f} (+{d:.2f})")
        wins = [(d, k) for d, k in gaps if d < 0]
        if wins:
            print("spark wins:")
            for d, k in sorted(wins)[:5]:
                print(f"  {k}: {spark[k]:.2f} vs {duck[k]:.2f} ({d:.2f})")
    return st / dt, st2 / dt2


#: Oracle medians under this are the measured single-process floor
#: band (docs/bench.md r13): sub-0.2 s DuckDB draws vary enough that
#: a >2× line flips sitting-to-sitting on identical code.
ORACLE_FLOOR_BAND_S = 0.2


def _weak_set(pairs: list[tuple[str, str]]) -> None:
    """Per-entry medians across sittings → the draw-stable perf-weak
    list (the docs/bench.md criterion, mechanized).

    Membership is the combined-median reading. Alongside it (r14,
    r13 ADVICE): each member's WORST per-batch median ratio — the
    number the docs/bench.md unfavorable-draw EXIT rule reads (an
    incumbent leaves only when every quiet batch clears 2×) — and a
    "boundary watch" listing non-members that exceeded 2× at some
    batch median, so the tool and the prose criterion can no longer
    disagree silently at the boundary. Batches are recovered from
    the record filenames (see :func:`_batch_key`)."""
    sparks = [_load(sp) for sp, _ in pairs]
    ducks = [_load(dp) for _, dp in pairs]
    batches: dict[str, list[int]] = {}
    for i, (sp, dp) in enumerate(pairs):
        bs, bd = _batch_key(sp), _batch_key(dp)
        if bd != bs:
            # r15 (r14 ADVICE): a mispaired CLI invocation used to
            # silently attribute the duck timings to the spark file's
            # batch in the worst-batch column
            print(
                f"WARNING: pair {i + 1}: spark batch {bs!r} != duck "
                f"batch {bd!r} — files may be mispaired; worst-batch "
                f"column attributes this pair to {bs!r}"
            )
        batches.setdefault(bs, []).append(i)
    keys = set.intersection(*(set(s) for s in sparks + ducks))
    rows, watch = [], []
    for k in sorted(keys - GATE_ENTRIES):
        sm = statistics.median(s[k] for s in sparks)
        dm = statistics.median(d[k] for d in ducks)
        if k in RELATIONAL_FLOOR_ENTRIES and sm < 1.0:
            # sub-second relational q-entries: pure per-query
            # scheduling floor, excluded per the r7-r11 precedent
            # (literal list — a new q-named entry with real work is
            # NOT excluded)
            continue
        # per-batch median ratios, for the worst-batch column
        per_batch = []
        for b, idxs in sorted(batches.items()):
            sb = statistics.median(sparks[i][k] for i in idxs)
            db = statistics.median(ducks[i][k] for i in idxs)
            if sb >= 0.5 and db >= 0.05:
                per_batch.append((sb / db, b))
        worst = max(per_batch) if per_batch else None
        member = sm >= 0.5 and dm >= 0.05 and sm > 2 * dm
        if member:
            rows.append((sm / dm, k, sm, dm, worst))
        elif worst is not None and worst[0] > 2:
            watch.append((worst[0], k, worst[1], sm, dm))
    print(
        f"— perf-weak set (medians over {len(pairs)} sittings, "
        f"{len(batches)} batches)"
    )
    for r, k, sm, dm, worst in sorted(rows, reverse=True):
        band = (
            "  [oracle floor band: single-draw membership unstable]"
            if dm < ORACLE_FLOOR_BAND_S
            else ""
        )
        wb = (
            f"  worst-batch {worst[0]:.1f}x ({worst[1]})"
            if worst is not None and len(batches) > 1
            else ""
        )
        print(f"  {k}: {sm:.2f}s vs {dm:.3f}s = {r:.1f}x{wb}{band}")
    if not rows:
        print("  (empty)")
    if watch:
        print(
            "— boundary watch (NON-members >2x at >=1 batch median; "
            "the exit rule holds incumbents in until every batch "
            "clears 2x — these are not members)"
        )
        for r, k, b, sm, dm in sorted(watch, reverse=True):
            cm = f"{sm / dm:.1f}x" if dm else "n/a"
            print(
                f"  {k}: batch {b} {r:.1f}x (combined median {cm})"
            )


def main() -> int:
    args = sys.argv[1:]
    weak = "--weak" in args
    args = [a for a in args if a != "--weak"]
    if len(args) < 2 or len(args) % 2 != 0:
        print(__doc__)
        return 2
    pairs = [(args[i], args[i + 1]) for i in range(0, len(args), 2)]
    ratios = []
    for i, (sp, dp) in enumerate(pairs):
        if len(pairs) > 1:
            print(f"— sitting {i + 1} ({sp} / {dp})")
        for label, path in (("spark", sp), ("duck", dp)):
            note = _host_note(path)
            if note:
                print(f"  host[{label}]: {note}")
        ratios.append(_sitting(sp, dp, detail=len(pairs) == 1))
    if len(pairs) > 1:
        m = [r[0] for r in ratios]
        e = [r[1] for r in ratios]
        print(f"— {len(pairs)} sittings")
        print(
            f"matched: median {statistics.median(m):.2f}x "
            f"best {min(m):.2f}x worst {max(m):.2f}x"
        )
        print(
            f"excl gates: median {statistics.median(e):.2f}x "
            f"best {min(e):.2f}x worst {max(e):.2f}x"
        )
    if weak:
        _weak_set(pairs)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
