#!/usr/bin/env python3
"""Cross-round bench comparison over QUIET MINIMA.

Same-code sweeps on this box drift 15-20% with ambient load (PERF_NOTES
r18 measured 128.7 -> 150.6 s across three same-day sweeps of identical
code), so a single old-vs-new file diff routinely manufactures phantom
movers. The convention that survives the noise — "per-query quiet
minima across sweeps" — is encoded here instead of being re-applied by
hand each round:

  python3 tools/bench_diff.py OLD.json [OLD2.json ...] --vs NEW.json [NEW2.json ...]
  python3 tools/bench_diff.py OLD.json NEW.json            # legacy 2-arg form

Each side may be any mix of BENCH_DETAIL_r*.json files, driver
BENCH_r*.json artifacts ({"tail": ..., "parsed": ...} wrappers), or raw
Bench stdout captures. Per query, ALL runs from a side's files are
pooled; the side's number is the minimum over QUIET runs (per-run
ambient <= the file's load_gate; amb < 0 = estimate unavailable =
treated quiet, matching Bench itself). A query with no quiet run on a
side is reported but auto-discounted. The mover table attaches the
ambient of the run that BACKED each side's min, so "is this number
trustworthy" is answerable from the table alone.

A mover must be BOTH >1.3x and >0.2 s absolute (under quiet minima the
old 0.4 s floor hid real sub-second regressions; loads are already
gated, so the tighter floor is safe).

Detail lines that carry Bench's listener figures (jobs and
shuffle_write_bytes of the run behind each entry's min) add one line
under each mover with both sides' figures, taken from the entry with the
lowest min on each side; a side without them prints nothing extra.
"""
import json
import sys


FIGURES = ("jobs", "shuffle_write_bytes")


def load(path):
    """Return ({query: [(sec, amb), ...]}, total, noisy_set, load_gate,
    {query: (min, {figure: value})})."""
    text = open(path).read()
    # driver artifact wrapper: the captured stdout tail (with embedded
    # JSON lines) lives under "tail", the parsed final line under
    # "parsed" — scan both as ordinary lines
    try:
        wrapper = json.loads(text)
        if isinstance(wrapper, dict) and ("tail" in wrapper or "parsed" in wrapper):
            text = (wrapper.get("tail") or "") + "\n" + json.dumps(
                wrapper.get("parsed") or {})
    except json.JSONDecodeError:
        pass
    runs, total, noisy, gate, figs = {}, None, set(), 2.0, {}
    for line in text.splitlines():
        line = line.strip()
        i = line.find("{")
        if i < 0:
            continue
        try:
            d = json.loads(line[i:])
        except json.JSONDecodeError:
            continue
        if "parsed" in d and isinstance(d["parsed"], dict):
            d = d["parsed"]
        if d.get("metric") == "detail":
            for q, v in d.get("detail", {}).items():
                if isinstance(v, dict):
                    rs = v.get("runs", [v.get("min")])
                    ambs = v.get("amb", [-1.0] * len(rs))
                    runs.setdefault(q, []).extend(zip(rs, ambs))
                    if all(f in v for f in FIGURES):
                        figs[q] = (v.get("min"), {f: v[f] for f in FIGURES})
                else:
                    runs.setdefault(q, []).append((v, -1.0))
        if d.get("metric") == "total" or "queries" in d:
            total = d.get("value", total)
            gate = d.get("load_gate", gate)
            noisy |= set(d.get("noisy", []))
            for q, v in d.get("queries", {}).items():
                # final-line numbers only when no detail line supplied runs
                runs.setdefault(q, []).append((v, -1.0))
    return runs, total, noisy, gate, figs


def merge(paths):
    """Pool runs from several files; per query return (quiet_min, amb_of_min,
    had_quiet, figures or None). noisy propagates only if NO file measured
    the query quietly.
    Quiet-classification happens against EACH FILE'S OWN load gate (ADVICE
    r19: pooling files produced under different SPARK_GRAFT_BENCH_LOAD_GATE
    values must not admit a load-poisoned min against the wrong gate)."""
    pooled, noisy_votes, measured, figs = {}, {}, set(), {}
    total = None
    for p in paths:
        runs, t, noisy, g, f = load(p)
        total = t if total is None else min(total, t)
        for q, (m, fig) in f.items():
            if q not in figs or m < figs[q][0]:
                figs[q] = (m, fig)
        for q, rs in runs.items():
            # tag each run quiet/not against THIS file's gate
            pooled.setdefault(q, []).extend(
                (sec, amb, amb < 0 or amb <= g) for sec, amb in rs)
            measured.add(q)
            if q in noisy:
                noisy_votes[q] = noisy_votes.get(q, 0) + 1
    out = {}
    for q, rs in pooled.items():
        quiet = [r for r in rs if r[2]]
        src = quiet if quiet else rs
        sec, amb, _ = min(src, key=lambda r: r[0])
        out[q] = (sec, amb, bool(quiet), figs.get(q, (None, None))[1])
    return out, total


def size(b):
    """Bytes in a short human unit."""
    for unit in ("B", "KB", "MB"):
        if abs(b) < 1024:
            return f"{b:.0f} {unit}" if unit == "B" else f"{b:.1f} {unit}"
        b /= 1024
    return f"{b:.1f} GB"


def main(argv):
    if "--vs" in argv:
        k = argv.index("--vs")
        old_paths, new_paths = argv[:k], argv[k + 1:]
    elif len(argv) == 2:
        old_paths, new_paths = [argv[0]], [argv[1]]
    else:
        sys.exit(__doc__)
    if not old_paths or not new_paths:
        sys.exit(__doc__)
    a, ta = merge(old_paths)
    b, tb = merge(new_paths)
    shared = sorted(set(a) & set(b))
    print(f"quiet-min totals: {ta} -> {tb}  ({len(a)} -> {len(b)} queries, "
          f"{len(shared)} shared; old={len(old_paths)} new={len(new_paths)} sweeps)")
    print(f"shared-query quiet-min sums: "
          f"{sum(a[q][0] for q in shared):.1f} -> {sum(b[q][0] for q in shared):.1f} s")
    movers = []
    for q in shared:
        if a[q][0] <= 0:
            continue
        ratio, delta = b[q][0] / a[q][0], b[q][0] - a[q][0]
        if (ratio > 1.3 or ratio < 1 / 1.3) and abs(delta) > 0.2:
            movers.append((ratio, delta, q))
    movers.sort(reverse=True)
    if not movers:
        print("no movers past the 1.3x/0.2s noise floor (quiet minima)")
    for ratio, delta, q in movers:
        # a side whose min had NO quiet backing anywhere is unmeasurable —
        # the delta is load, not code
        unq = [s for s, m in (("old", a), ("new", b)) if not m[q][2]]
        tag = ("discounted" if unq
               else "REGRESSED" if delta > 0 else "improved")
        extra = f"  [no quiet run in {'+'.join(unq)}]" if unq else ""
        print(f"{tag:10s} {q:30s} {a[q][0]:7.2f} -> {b[q][0]:7.2f}  "
              f"({ratio:5.2f}x, {delta:+.2f}s)  "
              f"amb {a[q][1]:.2f} -> {b[q][1]:.2f}{extra}")
        fa, fb = a[q][3], b[q][3]
        if fa and fb:
            print(f"{'':10s} {'':30s} jobs {fa['jobs']} -> {fb['jobs']}  "
                  f"shuffle_write {size(fa['shuffle_write_bytes'])} -> "
                  f"{size(fb['shuffle_write_bytes'])}")
    only_new = sorted(set(b) - set(a))
    if only_new:
        slow = [q for q in only_new if b[q][0] > 2.0]
        print(f"new queries: {len(only_new)}"
              + (f"; >2s: {', '.join(f'{q}={b[q][0]:.2f}' for q in slow)}"
                 if slow else ""))
    gone = sorted(set(a) - set(b))
    if gone:
        print(f"removed queries: {len(gone)}: {', '.join(gone)}")


if __name__ == "__main__":
    main(sys.argv[1:])
