"""Paired same-window A/B rerun of named lanes between two code states.

The bench record compares ROUNDS, but rounds run in different ambient
windows (round 13's bank carried a uniform ~1.38x machine-level shift
from a fresh reboot — BENCH_NOTES.md). Cross-window per-lane ratios
therefore confound code changes with ambient drift. This tool settles
a code-delta question the way `scale_report.py --adjudicate` settles
scale-exponent flags: run BOTH code states interleaved in ONE session
window, so ambient load cancels, and calibrate with code-UNCHANGED
sentinel lanes whose paired ratio must come out ~1.0 for the window
to count as clean.

Method (the one banked in BENCH_NOTES.md round 14):
  * `git worktree` of the baseline ref beside the working tree;
  * N interleaved legs (base, head, base, head, ...), each leg two
    fresh `python bench.py --only` processes: the touched lanes, then
    the sentinels, so nothing a touched lane leaves in its process
    (JIT state, GC pressure, block-manager contents) can move the
    sentinels and make the change look like a dirty window;
  * the derived-artifact store is cleared before EVERY process so both
    code states pay the same cold-mining protocol bench.py's full
    runs use (first consumer mines, later lanes serve);
  * per-lane estimate = min over that side's legs (the paired-min
    estimator: ambient noise only ever inflates, so min is the
    least-contaminated observation — same bound --adjudicate uses).

Usage:
  python tools/paired_lane_rerun.py BASE_REF lane1,lane2,... \
      [--sentinels l7_ngram_jaccard,...] [--legs 2] [--sf-dir DIR]

Prints a per-lane table plus touched/sentinel totals; exits 1 if the
sentinel total ratio strays outside [0.9, 1.1] (dirty window — rerun
rather than trust it)."""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from etl_wlg_metlink_spark import artifacts  # noqa: E402


def _run_leg(tree: str, lanes: list[str], sf_dir: str | None) -> dict:
    artifacts.clear(remove_persisted=True)  # same cold protocol per leg
    env = dict(os.environ)
    if sf_dir:
        env["SPARK_GRAFT_SF_DIR"] = sf_dir
    out = subprocess.run(
        [sys.executable, "bench.py", "--only", ",".join(lanes)],
        cwd=tree,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    )
    for line in out.stdout.splitlines():
        if line.startswith('{"metric"'):
            return json.loads(line)["queries"]
    raise SystemExit(f"no bench JSON line from leg in {tree}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("base_ref", help="git ref of the baseline code state")
    ap.add_argument("lanes", help="comma-separated touched lane names")
    ap.add_argument(
        "--sentinels",
        default="l7_ngram_jaccard,r2_three_way_join,x1_percentiles",
        help="code-UNCHANGED lanes that calibrate the window (~1.0)",
    )
    ap.add_argument("--legs", type=int, default=2, help="legs per side")
    ap.add_argument("--sf-dir", default=None, help="override SPARK_GRAFT_SF_DIR")
    args = ap.parse_args()

    touched = [s for s in args.lanes.split(",") if s]
    sentinels = [s for s in args.sentinels.split(",") if s and s not in touched]
    if not sentinels:
        ap.error("no sentinel lane left outside the touched lanes")
    lanes = touched + sentinels

    tree = tempfile.mkdtemp(prefix="paired_base_")
    subprocess.run(
        ["git", "worktree", "add", "-f", tree, args.base_ref],
        cwd=REPO,
        check=True,
        capture_output=True,
    )
    try:
        base: dict[str, float] = {}
        head: dict[str, float] = {}
        for leg in range(args.legs):  # interleave: ambient cancels
            for side, t, acc in (("base", tree, base), ("head", REPO, head)):
                q = _run_leg(t, touched, args.sf_dir)
                q.update(_run_leg(t, sentinels, args.sf_dir))
                for k, v in q.items():
                    acc[k] = min(acc.get(k, v), v)
                print(f"leg {leg + 1} {side}: {sum(q.values()):.2f}s", file=sys.stderr)
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", tree],
            cwd=REPO,
            capture_output=True,
        )
        artifacts.clear(remove_persisted=True)

    print(f"{'lane':36s} {'base':>7s} {'head':>7s} {'ratio':>6s}")
    for k in sorted(lanes):
        tag = "  (sentinel)" if k in sentinels else ""
        print(f"{k:36s} {base[k]:7.2f} {head[k]:7.2f} {head[k] / base[k]:6.2f}{tag}")
    tb = sum(base[k] for k in touched)
    th = sum(head[k] for k in touched)
    sb = sum(base[k] for k in sentinels)
    sh = sum(head[k] for k in sentinels)
    sr = sh / sb if sb else float("nan")
    print(f"\ntouched:  base {tb:.2f}s  head {th:.2f}s  ratio {th / tb:.3f}")
    print(f"sentinel: base {sb:.2f}s  head {sh:.2f}s  ratio {sr:.3f}")
    if not 0.9 <= sr <= 1.1:
        print("DIRTY WINDOW: sentinel ratio outside [0.9, 1.1]; rerun", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
