#!/usr/bin/env python
"""Round-over-round bench drift tripwire (advisory, never gating).

Compares per-query MIN timings between two bench records and prints every
query whose min moved by more than the ambient-noise band (×1.6 up = the
±40% band's upper edge compounded a little; same threshold downward is
reported as a win, informationally). The dedup_clusters_star drift took two
rounds to surface because this comparison was manual — this script makes it
one command. Exit code is ALWAYS 0: on a shared machine with ±40% ambient
noise a hard gate would flap.

Usage:
    python tools/bench_drift.py [OLD] [NEW]

OLD / NEW may each be either
  * a raw bench output file (``bench_last.json`` — written by bench.py since
    round 8, full fidelity), or
  * a driver ``BENCH_r{N}.json`` (which records only a 2000-char stdout
    *tail*; the ``queries_min``/``secondary_min`` dicts that survive in the
    tail are recovered by regex, the lost front is reported as such).

Defaults: OLD = newest BENCH_r*.json in the repo root, NEW = bench_last.json.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

THRESHOLD = 1.6  # upper edge of the observed ±40% ambient band
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _pairs_from_fragment(fragment: str) -> dict[str, float]:
    """Recover ``"name": 1.23`` pairs from a (possibly truncated) JSON
    fragment. Only used on driver tails that no longer parse as JSON."""
    return {
        m.group(1): float(m.group(2))
        for m in re.finditer(r'"([a-z0-9_]+)"\s*:\s*([0-9.]+)', fragment)
    }


def _min_sections(raw: str) -> dict[str, float]:
    """Per-query mins from a full bench JSON string or a truncated tail."""
    try:
        doc = json.loads(raw)
    except json.JSONDecodeError:
        doc = None
    if isinstance(doc, dict):
        if doc.get("parsed"):  # driver wrapper with intact parse
            doc = doc["parsed"]
        if "queries_min" in doc or "secondary_min" in doc:
            return {**doc.get("queries_min", {}), **doc.get("secondary_min", {})}
        if "tail" in doc:  # driver wrapper, truncated stdout
            raw = doc["tail"]
        elif "queries" in doc:  # the oldest bench output: means only
            return dict(doc.get("queries", {}))
    # Truncated tail: take only text after the LAST "_min" section marker(s)
    # so we never mix a query's mean (earlier dict) with another's min.
    out: dict[str, float] = {}
    for marker in ('"queries_min"', '"secondary_min"'):
        at = raw.find(marker)
        if at >= 0:
            section = raw[at + len(marker):]
            end = section.find("}")
            out.update(_pairs_from_fragment(section[: end if end >= 0 else None]))
    return out


def load_mins(path: str) -> dict[str, float]:
    with open(path) as fh:
        return _min_sections(fh.read())


def load_control(path: str) -> "float | None":
    """The record's control-query min (bench.py's ``control_min_sec``;
    older records lack it). Regex fallback for truncated driver tails."""
    with open(path) as fh:
        raw = fh.read()
    try:
        doc = json.loads(raw)
        if isinstance(doc, dict):
            if doc.get("parsed"):
                doc = doc["parsed"]
            if "control_min_sec" in doc:
                return float(doc["control_min_sec"])
            raw = doc.get("tail", raw)
    except json.JSONDecodeError:
        pass
    m = re.search(r'"control_min_sec"\s*:\s*([0-9.]+)', raw)
    return float(m.group(1)) if m else None


def load_sf(path: str) -> "float | None":
    """Best-effort scale factor of a bench record (None when the driver
    tail truncated it away). Guards against silently comparing an sf0.1
    round record with, say, an sf0.01 ad-hoc run left at the default
    output path — every 'drift' would be fiction."""
    with open(path) as fh:
        raw = fh.read()
    try:
        doc = json.loads(raw)
        if isinstance(doc, dict):
            if doc.get("parsed"):
                doc = doc["parsed"]
            if "sf" in doc:
                return float(doc["sf"])
            raw = doc.get("tail", raw)
    except json.JSONDecodeError:
        pass
    m = re.search(r'"sf"\s*:\s*([0-9.]+)', raw)
    return float(m.group(1)) if m else None


def main() -> None:
    benches = sorted(glob.glob(os.path.join(ROOT, "BENCH_r*.json")))
    old = sys.argv[1] if len(sys.argv) > 1 else (benches[-1] if benches else None)
    # Default NEW: the out-of-tree record a plain `python bench.py` writes
    # (ad-hoc runs must not dirty the working tree);
    # fall back to the committed copy if no fresh run exists.
    import datetime
    import tempfile

    # uid-suffixed (a world-shared tmp name collides across users); the
    # un-suffixed name is still accepted for older records.
    tmp_candidates = [
        os.path.join(
            tempfile.gettempdir(), f"mpr_spark_bench_last.{os.getuid()}.json"
        ),
        os.path.join(tempfile.gettempdir(), "mpr_spark_bench_last.json"),
        os.path.join(ROOT, "bench_last.json"),
    ]
    default_new = next(
        (p for p in tmp_candidates if os.path.exists(p)), tmp_candidates[-1]
    )
    new = sys.argv[2] if len(sys.argv) > 2 else default_new
    if not old or not os.path.exists(old) or not os.path.exists(new):
        print(f"bench_drift: need two bench files (old={old}, new={new})")
        return
    sf_a, sf_b = load_sf(old), load_sf(new)
    if sf_a is not None and sf_b is not None and sf_a != sf_b:
        print(f"bench_drift: REFUSING comparison — records are from "
              f"different scale factors (old sf={sf_a}, new sf={sf_b}); "
              f"pass two same-sf records explicitly")
        return
    # Freshness readout (advice): when NEW came from the default tmp path it
    # may be a stale record from an earlier same-sf run — print its mtime so
    # a comparison against last week's run is visible instead of silent.
    mtime = datetime.datetime.fromtimestamp(os.path.getmtime(new))
    print(f"bench_drift: NEW record {new} written {mtime:%Y-%m-%d %H:%M:%S}")
    a, b = load_mins(old), load_mins(new)
    # Control normalization: when both records carry the
    # control query's min (bench.py's control_min_sec), divide every ratio
    # by the control's own ratio — a uniformly-loaded session then shows
    # ratio ~1.0 everywhere instead of flagging the whole suite. The
    # control row itself is compared raw (its normalized ratio is 1 by
    # construction).
    ctrl_a, ctrl_b = load_control(old), load_control(new)
    handicap = (
        ctrl_b / ctrl_a if ctrl_a and ctrl_b and ctrl_a > 0 else None
    )
    if handicap is not None:
        print(
            f"  control q1_pricing_summary: {ctrl_a:.3f}s -> {ctrl_b:.3f}s "
            f"(session handicap x{handicap:.2f}; ratios below are "
            f"control-normalized)"
        )

    def ratio(q: str) -> float:
        r = b[q] / a[q]
        if handicap is not None:
            r /= handicap
        return r

    common = sorted(q for q in set(a) & set(b) if a[q] > 0 and b[q] > 0)
    if handicap is not None:
        # the control's own movement IS the handicap line above — its
        # normalized ratio is 1 by construction, so listing it raw would
        # just restate the handicap as a spurious flag
        common = [q for q in common if q != "q1_pricing_summary"]
    up = [(q, ratio(q)) for q in common if ratio(q) > THRESHOLD]
    down = [(q, ratio(q)) for q in common if 1 / ratio(q) > THRESHOLD]
    print(f"bench_drift: {old} -> {new}: {len(common)} comparable query mins"
          f" ({len(a) - len(common)} only-old, {len(b) - len(common)} only-new)")
    for q, r in sorted(up, key=lambda t: -t[1]):
        print(f"  SLOWER x{r:4.2f}  {q}  ({a[q]:.3f}s -> {b[q]:.3f}s)")
    for q, r in sorted(down, key=lambda t: t[1]):
        print(f"  faster x{r:4.2f}  {q}  ({a[q]:.3f}s -> {b[q]:.3f}s)")
    if not up:
        print(f"  no query min regressed past x{THRESHOLD}"
              + (" (control-normalized)" if handicap is not None else ""))


if __name__ == "__main__":
    main()
