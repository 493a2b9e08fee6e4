#!/usr/bin/env python3
"""Compare two BENCH_DETAIL.json records in raw AND anchor-normalized units.

Usage: python3 tools/bench_compare.py <old.json> <new.json> [top_n]
       python3 tools/bench_compare.py <old.json> <new.json> --stress STRESS.md

Why: cross-round bench deltas on this host mix code changes with documented
multi-minute host slow windows (uniform 15-50% inflation). Records written
since round 10 carry per-pass HostAnchor measurements and queries_norm /
total_norm (see HostAnchor.scala); comparing the NORMALIZED columns removes
the host term, so a residual delta is attributable to code. Older records
(pre-round-10) have no anchors — the tool falls back to raw-only for them
and says so.

Noise gating (round 14): records since round 14 carry queries_passes (the
per-pass raw time of every row, the values min() collapses) and n_passes.
A row's SPREAD = max-min over its normalized per-pass times — the measured
run-to-run noise of that row in that very record. A round-over-round delta
smaller than the spread of either record is not attributable to code (the
r13 finding: two clean runs of IDENTICAL code read 113.3 vs 122.5s
normalized, all of it long-tail micro-noise), so such rows are suppressed
from the regression/improvement tables and excluded from the filtered
total. The table header reports both the plain and the spread-filtered
totals; identical-code A/B runs should read within ~2% on the filtered one.

Task counts: records whose query_metrics carry a per-pass `tasks` count
also get the list of rows whose counts differ. At fixed partitions a task
count does not depend on the host, so a difference there is the plan's.

--stress mode (the round-13 workflow promotion): renders the delta table as
a markdown block — stage rows included, so a shared-build regression is
attributed to its stage: row instead of smearing over its consumers — and
splices it into STRESS.md between the bench-compare markers. Run it right
after the closing bench of each round so every regression lands with an
attributed line THE ROUND IT APPEARS, instead of a judge reconstruction.
"""
import json
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def spreads(rec, normalized):
    """name -> max-min over the record's per-pass times (normalized per
    pass when the record carries anchors and the caller compares normalized
    units). Records since round 15 carry pass_valid (anchor-gated at record
    time); for RAW comparisons with ≥2 valid passes, the spread is computed
    over VALID passes only — the raw min (BenchNorm.minPreferringValid)
    comes from valid passes, and a degraded pass's inflation is host noise
    that must not widen the suppression window around it. NORMALIZED
    comparisons keep ALL passes: queries_norm mins over every pass
    post-normalization (a degraded pass, scaled by its granted slowdown,
    can still source the min), so a valid-only spread would no longer
    bracket the value being compared and a normalization residual could
    read as attributable signal (review r15). {} for pre-round-14 records
    without queries_passes."""
    qp = rec.get("queries_passes")
    if not qp:
        return {}
    slow = rec.get("pass_slowdowns")
    valid = rec.get("pass_valid")
    use_valid = bool(valid) and sum(valid) >= 2 and not normalized
    out = {}
    for name, per_pass in qp.items():
        vals, vals_all = [], []
        for i, t in enumerate(per_pass):
            if t is None:
                continue
            f = slow[i] if (normalized and slow and i < len(slow)) else 1.0
            v = t / f if f > 0 else t
            vals_all.append(v)
            if not (use_valid and i < len(valid) and not valid[i]):
                vals.append(v)
        # a row measured in <2 valid passes (degraded_fallback_rows) must
        # not lose its spread entirely — its only samples came from a
        # degraded host window, so the ALL-pass spread is the honest
        # suppression width; omitting it would make attributable() read
        # every such delta as signal (advice r16)
        if len(vals) < 2:
            vals = vals_all
        if len(vals) >= 2:
            out[name] = max(vals) - min(vals)
    return out


def deltas(old, new):
    """(ratio, name, old_s, new_s, spread) for every shared timing row,
    normalized when both records carry anchors; stage: rows ride along
    untouched. spread = the larger of the two records' per-row spreads
    (0.0 when neither record has per-pass data)."""
    both = set(old.get("queries", {})) & set(new.get("queries", {}))
    have_norm = "queries_norm" in old and "queries_norm" in new
    key = "queries_norm" if have_norm else "queries"
    sp_old = spreads(old, have_norm)
    sp_new = spreads(new, have_norm)
    rows = []
    for q in both:
        o = old[key].get(q, old["queries"][q])
        n = new[key].get(q, new["queries"][q])
        if o > 0:
            sp = max(sp_old.get(q, 0.0), sp_new.get(q, 0.0))
            rows.append((n / o, q, o, n, sp))
    rows.sort(key=lambda t: -t[0])
    return rows, have_norm


def window_flags(old, new):
    """Union of both records' window_suspect_rows (round-16 records apply
    pass_trend's classifier at record time — judge r15 #2): a row whose
    per-pass trend was host-window-tainted in EITHER record has its
    round-over-round delta suppressed with a NAMED reason, instead of
    depending on the spread window happening to be wide enough. Empty for
    pre-round-16 records (no key): behavior is then unchanged."""
    return (set(old.get("window_suspect_rows", [])) |
            set(new.get("window_suspect_rows", [])))


def attributable(rows, flags=frozenset()):
    """Split rows into (signal, noise, window_flagged): a row is signal
    when |new-old| exceeds its own measured spread AND neither record
    flagged it as host-window-tainted. Rows with no spread data (spread 0,
    pre-r14 records on both sides) count as signal unless flagged — no
    evidence to suppress on."""
    signal, noise, flagged = [], [], []
    for r in rows:
        if r[1] in flags:
            flagged.append(r)
        elif abs(r[3] - r[2]) > r[4]:
            signal.append(r)
        else:
            noise.append(r)
    return signal, noise, flagged


def filtered_totals(old, new, rows):
    """(old_total, plain_new_total, filtered_new_total): the filtered total
    replays only the attributable per-row deltas on top of the old total,
    so noise-sized movement on dozens of rows cannot masquerade as a suite
    trend."""
    have_norm = "queries_norm" in old and "queries_norm" in new
    o_tot = old.get("total_norm" if have_norm else "value", old["value"])
    n_tot = new.get("total_norm" if have_norm else "value", new["value"])
    signal, _, _ = attributable(rows, window_flags(old, new))
    filt = o_tot + sum(n - o for _, _, o, n, _ in signal)
    return o_tot, n_tot, filt


def validity_note(old, new):
    """Watch item r15 #2: total_norm is only comparable across rounds when
    both records' pass-validity profiles match. The normalizer deflates
    degraded passes by their granted slowdown, so an all-valid record's
    total_norm reads WORSE against a record whose normalizer absorbed two
    degraded passes (r14 90.4s vs r15 113.3s on flat code). When the
    profiles differ, say so and point at the honest signals."""
    vo, vn = old.get("pass_valid"), new.get("pass_valid")
    if vo is None and vn is None:
        return None
    def shape(v):
        return "pre-r15 (no pass_valid)" if v is None else \
            "[" + ",".join("T" if x else "F" for x in v) + "]"
    if vo != vn and (vo is None or vn is None or
                     vo.count(False) != vn.count(False)):
        return (f"NOTE: pass-validity profiles differ ({shape(vo)} vs "
                f"{shape(vn)}) — total_norm is NOT comparable across "
                "differing validity (the normalizer deflates degraded "
                "passes); read the raw and spread-filtered totals instead.")
    return None


def pass_count_note(old, new):
    po, pn = old.get("n_passes"), new.get("n_passes")
    if po is not None and pn is not None and po != pn:
        return (f"WARNING: records taken under different pass counts "
                f"({po} vs {pn}) — min-of-N shifts with N, so per-row "
                "ratios conflate the method change with code deltas.")
    if po is None or pn is None:
        return ("note: a record predates n_passes (pre-round-14); both "
                "rounds 13-14 ran min-of-3.")
    return None


def task_deltas(old, new):
    """(name, old_tasks, new_tasks) for every row whose per-pass task
    counts in query_metrics differ between the records. At fixed partitions
    a row's task count does not depend on the host, unlike its wall time,
    so a difference here comes from the plan. None when either record
    predates per-pass task counts."""
    def tasks(rec):
        qm = rec.get("query_metrics")
        if not qm or any("tasks" not in s for ss in qm.values() for s in ss):
            return None
        return {k: [s["tasks"] for s in ss] for k, ss in qm.items()}
    o, n = tasks(old), tasks(new)
    if o is None or n is None:
        return None
    return [(k, o.get(k), n.get(k)) for k in sorted(set(o) | set(n))
            if o.get(k) != n.get(k)]


MARK_BEGIN = "<!-- bench-compare:begin -->"
MARK_END = "<!-- bench-compare:end -->"


def markdown_block(old, new, top_n=10):
    import statistics
    rows, have_norm = deltas(old, new)
    if not rows:
        sys.exit("bench_compare: the two records share no timing rows — "
                 "are these the same kind of record (full-suite "
                 "BENCH_DETAIL.json, not a subset/stress record)?")
    units = "anchor-normalized" if have_norm else "RAW (a record lacks anchors)"
    med = statistics.median(r for r, *_ in rows)
    signal, noise, wflagged = attributable(rows, window_flags(old, new))
    o_tot, n_tot, filt = filtered_totals(old, new, rows)
    wnote = (f", {len(wflagged)} suppressed as host-window-flagged "
             "(window_suspect_rows: trend tainted by a mid-pass host "
             "window in at least one record)" if wflagged else "")
    out = [MARK_BEGIN,
           "### Round-over-round bench comparison (generated by "
           "tools/bench_compare.py)",
           "",
           f"Totals: {old['value']}s -> {new['value']}s raw; "
           f"{old.get('total_norm', 'n/a')}s -> "
           f"{new.get('total_norm', 'n/a')}s normalized; "
           f"spread-filtered {o_tot:.1f}s -> {filt:.1f}s "
           f"({filt / o_tot:.3f}x, {len(signal)} attributable rows, "
           f"{len(noise)} suppressed as within-spread noise{wnote}). "
           f"Median per-row ratio {med:.3f} "
           "(uniform shift = host-like; concentrated = code-like). "
           f"Deltas below are {units}; a row's spread is max-min over its "
           "own per-pass times, and rows whose delta sits inside the "
           "spread of either record are suppressed; `stage:` rows are the "
           "shared builds, so a build regression is attributed to its "
           "stage row rather than smeared over consumer queries.",
           ""]
    for note in (pass_count_note(old, new), validity_note(old, new)):
        if note:
            out += [note, ""]
    regs = [r for r in signal if r[0] > 1][:top_n]
    out += [f"Worst {len(regs)} attributable regressions:", "",
            "| row | old s | new s | ratio | spread s |",
            "|---|---|---|---|---|"]
    for r, q, o, n, sp in regs:
        out.append(f"| {q} | {o:.3f} | {n:.3f} | {r:.2f}x | {sp:.3f} |")
    imps = [r for r in signal if r[0] <= 1][-top_n:][::-1]
    out += ["", f"Best {len(imps)} attributable improvements:", "",
            "| row | old s | new s | ratio | spread s |",
            "|---|---|---|---|---|"]
    for r, q, o, n, sp in imps:
        out.append(f"| {q} | {o:.3f} | {n:.3f} | {r:.2f}x | {sp:.3f} |")
    if wflagged:
        out += ["", "Host-window-flagged rows (deltas suppressed by name, "
                "not by spread): " + ", ".join(sorted(q for _, q, *_ in
                                                      wflagged))]
    only_new = sorted(set(new.get("queries", {})) - set(old.get("queries", {})))
    if only_new:
        out += ["", "New rows this round: " + ", ".join(only_new)]
    out.append(MARK_END)
    return "\n".join(out)


def splice_stress(old, new, stress_path):
    from md_splice import splice_block
    splice_block(stress_path, markdown_block(old, new), MARK_BEGIN, MARK_END)
    print(f"spliced bench-compare block into {stress_path}")


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    old, new = load(sys.argv[1]), load(sys.argv[2])

    if "--stress" in sys.argv:
        i = sys.argv.index("--stress")
        if i + 1 >= len(sys.argv):
            sys.exit("--stress needs a path (e.g. --stress STRESS.md)")
        splice_stress(old, new, sys.argv[i + 1])
        return

    top_n = int(sys.argv[3]) if len(sys.argv) > 3 else 15
    for label, d in (("old", old), ("new", new)):
        anc = d.get("anchors")
        anc_s = (" anchors_par_ms=" +
                 "/".join(str(round(v["par_ms"])) for v in anc.values())
                 if anc else " (no anchors: pre-round-10 record)")
        print(f'{label}: total={d["value"]}s'
              f' total_norm={d.get("total_norm", "n/a")}s'
              f' n={len(d.get("queries", {}))}'
              f' passes={d.get("n_passes", "?")}{anc_s}')

    for note in (pass_count_note(old, new), validity_note(old, new)):
        if note:
            print(note)
    rows, have_norm = deltas(old, new)
    signal, noise, wflagged = attributable(rows, window_flags(old, new))
    o_tot, n_tot, filt = filtered_totals(old, new, rows)
    wnote = (f", {len(wflagged)} suppressed as host-window-flagged"
             if wflagged else "")
    print(f"\nspread filter: {len(signal)} attributable rows, "
          f"{len(noise)} suppressed (delta inside the row's own per-pass "
          f"spread){wnote}; filtered total {o_tot:.1f}s -> {filt:.1f}s "
          f"({filt / o_tot:.3f}x) vs plain {n_tot if isinstance(n_tot, str) else round(n_tot, 1)}s")
    if wflagged:
        print("window-flagged rows: " +
              ", ".join(sorted(q for _, q, *_ in wflagged)))
    print(f'\nper-query deltas ({ "normalized" if have_norm else "RAW — at least one record lacks anchors" }),'
          f' worst {top_n} attributable regressions first (spread in [..]):')
    for r, q, o, n, sp in signal[:top_n]:
        print(f"  {q:32s} {o:7.3f} -> {n:7.3f}  {r:5.2f}x  [{sp:.3f}]")
    print("  ...")
    for r, q, o, n, sp in signal[-5:]:
        print(f"  {q:32s} {o:7.3f} -> {n:7.3f}  {r:5.2f}x  [{sp:.3f}]")
    import statistics
    print(f"\nmedian ratio (all shared rows): "
          f"{statistics.median(r for r, *_ in rows):.3f}"
          f"  (uniform shift = host-like; concentrated = code-like)")
    td = task_deltas(old, new)
    if td is None:
        print("\nno task counts: a record predates per-pass tasks in "
              "query_metrics")
    else:
        print(f"\nper-pass task counts (query_metrics): {len(td)} rows "
              "differ")
        for q, o, n in td:
            print(f"  {q:32s} {o} -> {n}")


if __name__ == "__main__":
    main()
