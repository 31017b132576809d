#!/usr/bin/env python3
"""Per-family bench drift report (round-10 verdict #6).

Compares freshly-measured per-family isolated bench records
(BENCH_FAMILY_<fam>.json in the working tree) against the committed
ones (git show HEAD:...), per query, on OPERATOR time (queries_op),
and prints a machine-made drift report with the repo's ±15% noise
band applied — so a round's judge reads ratios instead of re-deriving
them. When both records carry per-entry job and task counts (`probe`),
every entry whose count changed is listed too, with no band. Families whose fresh record equals the committed file byte-wise
(nothing re-measured) are skipped.

Usage:
  python3 tools/bench_drift.py [--band 0.15] [--write BENCH_DRIFT.md]
          [--ref HEAD] [families...]

Exit code 0 always (drift is a report, not a gate — per-family noise
at 0.2 s magnitudes routinely exceeds any fixed band; the judge reads
the table).
"""
import argparse
import glob
import json
import os
import subprocess
import sys


def committed(path, ref):
    try:
        out = subprocess.run(["git", "show", f"{ref}:{path}"],
                             capture_output=True, check=True)
        return json.loads(out.stdout)
    except Exception:
        return None


def count_changes(fresh, base):
    """Report lines for every entry whose job or task count changed.

    The counts are exact and steal-free, so any change is listed, with
    no noise band. Entries whose probe lacks either count in either
    record (records written before the counts existed) are skipped.
    """
    fp, bp = fresh.get("probe", {}), base.get("probe", {})
    keys = ("jobs", "tasks")
    common = [k for k in fp if k in bp
              and all(c in fp[k] and c in bp[k] for c in keys)]
    compared = len(common)
    changed = sorted(k for k in common
                     if any(fp[k][c] != bp[k][c] for c in keys))
    if not compared:
        return []
    if not changed:
        return [f"- job and task counts unchanged ({compared} entries)"]
    out = [f"- job or task count changed ({len(changed)}/{compared}):", "",
           "| entry | committed jobs | fresh jobs | committed tasks "
           "| fresh tasks |", "|---|---|---|---|---|"]
    out += [f"| {k} | {bp[k]['jobs']} | {fp[k]['jobs']} "
            f"| {bp[k]['tasks']} | {fp[k]['tasks']} |" for k in changed]
    out.append("")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("families", nargs="*",
                    help="family names (default: every BENCH_FAMILY_*.json)")
    ap.add_argument("--band", type=float, default=0.15)
    ap.add_argument("--ref", default="HEAD")
    ap.add_argument("--write", default=None,
                    help="also write the report to this markdown file")
    args = ap.parse_args()

    files = ([f"BENCH_FAMILY_{f}.json" for f in args.families]
             if args.families else sorted(glob.glob("BENCH_FAMILY_*.json")))
    lines = [f"# Bench drift report (fresh per-family records vs {args.ref}, "
             f"band ±{int(args.band * 100)}%)", ""]
    for path in files:
        if not os.path.exists(path):
            lines.append(f"## {path}: missing in working tree — skipped")
            continue
        with open(path) as fh:
            fresh = json.load(fh)
        base = committed(path, args.ref)
        if base is None:
            lines.append(f"## {path}: not in {args.ref} — skipped")
            continue
        if fresh == base:
            lines.append(f"## {path}: identical to {args.ref} (not re-measured)")
            continue
        fq, bq = fresh.get("queries_op", {}), base.get("queries_op", {})
        common = sorted(k for k in fq if k in bq
                        and fq[k] >= 0 and bq[k] > 0)
        if not common:
            # Renamed queries or a brand-new family: nothing comparable.
            # Report and keep going — the 'exit 0 always' contract means
            # one incomparable family must not abort the whole report.
            lines.append(f"## {path}: no comparable queries vs {args.ref} "
                         f"({len(fq)} fresh / {len(bq)} committed) — skipped")
            lines.append("")
            continue
        ratios = {k: fq[k] / bq[k] for k in common}
        out_band = {k: r for k, r in ratios.items()
                    if abs(r - 1) > args.band}
        tot_f = sum(fq[k] for k in common)
        tot_b = sum(bq[k] for k in common)
        fl, bl = fresh.get("load", {}), base.get("load", {})
        lines.append(f"## {path}")
        lines.append(f"- queries compared: {len(common)}; op-time sum ratio "
                     f"{tot_f / tot_b:.3f} ({tot_b:.1f} → {tot_f:.1f} s)")
        lines.append(f"- fresh frame: contended={fl.get('contended')} "
                     f"foreign_max={fl.get('foreign_cores_max')}; committed frame: "
                     f"contended={bl.get('contended')} "
                     f"foreign_max={bl.get('foreign_cores_max')}")
        if out_band:
            lines.append(f"- outside ±{int(args.band * 100)}% "
                         f"({len(out_band)}/{len(common)}):")
            lines.append("")
            lines.append("| query | committed s | fresh s | ratio |")
            lines.append("|---|---|---|---|")
            for k in sorted(out_band, key=lambda k: -abs(ratios[k] - 1)):
                lines.append(f"| {k} | {bq[k]:.2f} | {fq[k]:.2f} "
                             f"| {ratios[k]:.2f} |")
            lines.append("")
        else:
            lines.append(f"- every query inside the ±{int(args.band * 100)}% band")
        lines.extend(count_changes(fresh, base))
        lines.append("")
    report = "\n".join(lines)
    print(report)
    if args.write:
        with open(args.write, "w") as fh:
            fh.write(report + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
