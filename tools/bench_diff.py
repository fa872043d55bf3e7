#!/usr/bin/env python3
"""Cross-round per-query bench regression diff.

Compares two full bench artifacts (BENCH_full_*.json) and flags every
query whose cost moved more than THRESH x between rounds AFTER
normalizing by the sessions' transfer KPIs — the repo's bench JSONs
carry a per-run transfer measurement (median-of-3 read of a fixed
600k-row parquet) precisely so that the +-25% session jitter the r12
verdict documented can be divided out before calling anything a
regression.

Usage:
    tools/bench_diff.py OLD.json NEW.json [--thresh 1.5] [--min-sec 0.5]

Exit status 0 always (it is a report, not a gate): regressions need a
human (or the round's builder) to triage, and a jitter-heavy session
must not fail CI on noise. The output is meant to be committed as
BENCH_DIFF_r{N}.md by the round that runs it.

r17+: artifacts carry per-row `park_secs` (heartbeat-detected whole-VM
stall seconds inside each row's window) — batch rows compare on
(wall - park), and when either artifact's park coverage exceeds 15% of
its measured query wall the tool REFUSES the verdict instead of
flagging rows a stalled host inflated (r16: the driver artifact read
1.45x the committed anchor purely on parks).

Artifacts that carry a per-row `codegen` map (classes compiled and
compile ms in the row's window) also get each row's compile-count delta,
printed exactly, with no threshold.
"""
import json
import os
import sys


def load(path):
    with open(path) as f:
        d = json.load(f)
    # driver-wrapper artifacts (BENCH_rNN.json) hold the bench line
    # under "parsed" — unwrap so they can be diffed directly
    if "queries" not in d and isinstance(d.get("parsed"), dict) \
            and "queries" in d["parsed"]:
        d = d["parsed"]
    # r18 (r17 verdict #6): a COMPACT bench line carries only the top-5
    # rows plus "qdigest", the digest of the session's FULL per-query
    # map, and a "full" pointer. Resolve it to the full artifact rather
    # than diffing 5 rows — the r17 phantom "dropped_from_bench" came
    # exactly from the top-5 window. The digest match is mandatory: a
    # stale BENCH_full_latest.json must never masquerade as this
    # session's map.
    dig = d.get("qdigest")
    if dig and len(d.get("queries") or {}) < (d.get("rows") or 0):
        cands = [d.get("full"),
                 os.path.join(os.path.dirname(os.path.abspath(path)),
                              "BENCH_full_latest.json")]
        resolved = False
        for c in cands:
            if not c or not os.path.exists(c):
                continue
            try:
                with open(c) as f2:
                    full = json.load(f2)
            except Exception:
                continue
            if full.get("qdigest") == dig:
                d = full
                resolved = True
                break
        if not resolved:
            print(f"WARNING: {path} is a compact top-5 line "
                  f"(qdigest {dig}) and no full artifact with a "
                  f"matching digest was found — diffing the top-5 "
                  f"window only; absent rows are NOT dropped queries "
                  f"(rows={d.get('rows')}, n_ok={d.get('n_ok')}).")
            d = dict(d, unresolved=True)
    runs = (d.get("transfer") or {}).get("run_secs") or []
    # session speed proxy: median transfer time (lower = faster session)
    med = sorted(runs)[len(runs) // 2] if runs else None
    return d, med


def codegen_deltas(old, new):
    """Print each shared row's change in classes compiled, exactly.

    Compile counts repeat from run to run, so unlike wall time they
    need no noise threshold: every moved row is printed."""
    oc, nc = old.get("codegen"), new.get("codegen")
    if oc is None or nc is None:
        return
    shared = sorted(set(oc) & set(nc))
    moved = [(n, oc[n]["compiles"], nc[n]["compiles"]) for n in shared
             if oc[n]["compiles"] != nc[n]["compiles"]]
    o_tot = sum(oc[n]["compiles"] for n in shared)
    n_tot = sum(nc[n]["compiles"] for n in shared)
    print(f"codegen compiles over {len(shared)} shared rows: "
          f"old {o_tot} -> new {n_tot} ({n_tot - o_tot:+d}); "
          f"{len(moved)} row(s) moved")
    for name, a, b in sorted(moved, key=lambda m: (m[2] - m[1], m[0])):
        print(f"  {b - a:+6d}  {a:>5d} -> {b:<5d} {name}")


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    opts = {a.split("=")[0]: a.split("=", 1)[1] if "=" in a else True
            for a in sys.argv[1:] if a.startswith("--")}
    if len(args) != 2:
        sys.exit(__doc__)
    thresh = float(opts.get("--thresh", 1.5))
    min_sec = float(opts.get("--min-sec", 0.5))
    old, old_med = load(args[0])
    new, new_med = load(args[1])
    oq, nq = old["queries"], new["queries"]
    # session normalizer: the MEDIAN per-query ratio across all shared
    # rows. The transfer medians looked like the obvious normalizer but
    # are themselves 3-sample noisy (dividing by them flagged 56 rows
    # on byte-identical code); the median query ratio divides out
    # whole-session speed while being immune to the handful of genuine
    # movers it exists to expose.
    # r16+: artifacts carry per-streaming-row compute time ("busy" =
    # sum of triggerExecution durations; wall - busy = trigger waits).
    # Streaming rows absorb VM parks into their waits, so when BOTH
    # artifacts carry busy for a row, the regression test runs on busy
    # (compute), not wall — a stalled-host trigger wait cannot read as
    # a code regression (r15: stream_sketch 2.85->7.61s, code untouched).
    osb = old.get("stream_busy") or {}
    nsb = new.get("stream_busy") or {}
    # r17+: artifacts carry per-row PARK overlap ("park_secs" = seconds
    # of heartbeat-detected whole-VM stalls inside the row's measured
    # window). Parks inflate batch rows the way trigger waits inflate
    # streaming rows — r16's driver artifact read 1.45x its committed
    # anchor purely on parks (containment_compact 132.8s vs 13.0s
    # isolated). Rows compare on (wall - park); a missing map (pre-r17
    # artifact) discounts zero, the conservative old behavior.
    opk = old.get("park_secs") or {}
    npk = new.get("park_secs") or {}
    ost = old.get("steal_secs") or {}
    nst = new.get("steal_secs") or {}
    shared = sorted(set(oq) & set(nq))
    ratios = sorted(nq[n] / oq[n] for n in shared
                    if isinstance(oq[n], (int, float))
                    and isinstance(nq[n], (int, float)) and oq[n] > 0)
    norm = ratios[len(ratios) // 2] if ratios else 1.0
    rows = []
    for name in shared:
        a, b = oq[name], nq[name]
        if not (isinstance(a, (int, float)) and isinstance(b, (int, float))):
            continue  # err marker rows carry no time to compare
        note = ""
        if name in osb and name in nsb:
            a, b = osb[name], nsb[name]
            note = (f" [streaming: busy-normalized; wall "
                    f"{oq[name]:.2f}->{nq[name]:.2f}s]")
        elif name in nsb:
            note = (f" [streaming: new busy {nsb[name]:.2f}s of "
                    f"{b:.2f}s wall; old artifact has no busy split]")
        # park discount on whichever number survived the busy swap: a
        # park lands in compute as readily as in waits (r16 verdict #1:
        # replicate_stream's BUSY read 47.3s vs ~17s anchor on parks),
        # so busy-normalized rows are discounted too. Floor at 1% of
        # the raw number — a fully-parked window must not divide by ~0.
        pa, pb = opk.get(name, 0.0), npk.get(name, 0.0)
        if pa >= 0.05 or pb >= 0.05:
            a = max(a - pa, 0.01 * max(a, 1e-9))
            b = max(b - pb, 0.01 * max(b, 1e-9))
            note += f" [park-discounted: old -{pa:.2f}s new -{pb:.2f}s]"
        # sustained-steal annotation (r17): shown, never subtracted —
        # a flagged row whose window carried heavy sub-park steal needs
        # isolated re-measurement, not a discount
        sa, sb = ost.get(name, 0.0), nst.get(name, 0.0)
        if sa >= 0.25 or sb >= 0.25:
            note += f" [steal in window: old {sa:.2f}s new {sb:.2f}s]"
        if max(a, b) < min_sec:
            continue  # sub-noise rows: absolute cost too small to triage
        ratio = (b / norm) / a if a > 0 else float("inf")
        if ratio >= thresh or ratio <= 1.0 / thresh:
            rows.append((ratio, name + note, a, b))
    print(f"# bench diff: {args[0]} -> {args[1]}")
    print(f"session normalizer (median query ratio): {norm:.3f}; "
          f"transfer medians old={old_med}s new={new_med}s; "
          f"thresh {thresh}x, min {min_sec}s")
    print(f"totals: old {old.get('value', 0):.1f}s/{old.get('n_ok')}ok "
          f"-> new {new.get('value', 0):.1f}s/{new.get('n_ok')}ok")
    # r14+: artifacts carry the lifecycle split — the comparable
    # headline excludes fixed-overhead multi-phase rows
    if "value_core" in old or "value_core" in new:
        def core(d):
            if "value_core" in d:
                return float(d["value_core"])
            lc = set(new.get("lifecycle") or old.get("lifecycle") or [])
            return sum(v for k, v in d["queries"].items()
                       if k not in lc and isinstance(v, (int, float)))
        print(f"core totals (lifecycle rows excluded): "
              f"old {core(old):.1f}s -> new {core(new):.1f}s")
    # a compact artifact that did not resolve carries only its top-5
    # window: set differences against it are artifacts of the window,
    # not added or removed queries
    if old.get("unresolved") or new.get("unresolved"):
        print("added/removed rows: unresolved (a compact artifact has no "
              "full artifact with a matching digest)")
    else:
        added = sorted(set(nq) - set(oq))
        gone = sorted(set(oq) - set(nq))
        if added:
            print(f"added rows: {', '.join(added)}")
        if gone:
            print(f"removed rows: {', '.join(gone)}")
    codegen_deltas(old, new)
    # park coverage gate: when parks ate a large share of a session's
    # measured query wall, per-row park windows are themselves noisy
    # (the heartbeat localizes a stall to ~100ms granularity and cannot
    # see sub-250ms steals) — no per-row verdict is trustworthy. Report
    # the rows for forensics but refuse the adjudication.
    refused = False
    for label, art in (("old", old), ("new", new)):
        pk = art.get("park_in_queries_secs")
        tot = art.get("value")
        if pk and tot and pk / tot > 0.15:
            print(f"VERDICT REFUSED: {label} artifact's park coverage is "
                  f"{pk:.1f}s of {tot:.1f}s measured wall "
                  f"({100 * pk / tot:.0f}% > 15%) — the session is too "
                  f"stall-ridden to adjudicate per-row; re-run on a "
                  f"quieter window. Rows below are forensic only.")
            refused = True
        # r17: sustained SUB-threshold steal (accumulated heartbeat lag
        # that never tripped a park interval) inflates rows 2-6x in
        # alphabetical bands with park_secs ~0. It is DIAGNOSTIC only —
        # never subtracted per-row, because the heartbeat also lags a
        # little under the bench's own full-core load — but a session
        # whose steal coverage is large is equally unadjudicable.
        st = art.get("steal_in_queries_secs")
        if st and tot and st / tot > 0.15:
            print(f"VERDICT REFUSED: {label} artifact's sustained-steal "
                  f"coverage is {st:.1f}s of {tot:.1f}s measured wall "
                  f"({100 * st / tot:.0f}% > 15%) — sub-park host steal "
                  f"this heavy inflates rows without tripping the park "
                  f"detector; re-run on a quieter window. Rows below are "
                  f"forensic only.")
            refused = True
    if not rows:
        if not refused:
            print(f"clean: no query moved >={thresh}x normalized")
        return
    print(f"\n{len(rows)} row(s) moved >={thresh}x normalized "
          "(ratio >1 = slower in new):")
    print(f"{'norm-ratio':>10}  {'old-s':>8}  {'new-s':>8}  query")
    for ratio, name, a, b in sorted(rows, reverse=True):
        print(f"{ratio:>10.2f}  {a:>8.2f}  {b:>8.2f}  {name}")
    inband = sorted(n for n in set(osb) & set(nsb)
                    if osb[n] > 0
                    and 1.0 / thresh < (nsb[n] / norm) / osb[n] < thresh
                    and not any(n in r[1] for r in rows))
    if inband:
        print(f"\nstreaming rows in-band on busy (trigger waits excluded): "
              f"{', '.join(inband)}")


if __name__ == "__main__":
    main()
