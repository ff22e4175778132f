"""Kernel A/B against an earlier commit: the code-vs-platform
discriminator the probe ratio only approximates.

By default the base is the previous round's kernel: the driver ends each
round with a ``round N: …`` commit, so it is always addressable
(``run_kernel_ab``, which bench.py embeds). ``--base REV`` compares
against any commit instead, for example a change's parent. The tool
exports the base tree into a scratch directory (``git archive``) and runs
the SAME single-core probe on both kernels, interleaved rep-by-rep
(base, cur, base, cur, …) so platform drift inside the measurement
window cancels instead of landing on one side. ``kernel_ab_ratio`` =
current best / base best: ~1.0 means any bench delta is platform/load,
not kernel code.

Each rep is its own subprocess pinned to one core (two package versions
cannot be imported into one interpreter); the probe's in-process warmup
keeps import/JIT cost out of the timed loop.

Usage: python tools/kernel_ab.py [sf_dir] [--base REV] [--reps N]
Prints one JSON line: the best and median ms/doc of each side and the
number of reps in which the current kernel was faster.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_DOCS = 500  # probe pages per rep

_PROBE_SNIPPET = """\
import json, sys
sys.path.insert(0, {root!r})
from tools.kernel_probe import run_probe
print(json.dumps(run_probe({sf!r}, {n}, reps=1, pin_core=0)))
"""


def _git(*args: str) -> str:
    return subprocess.run(["git", *args], cwd=REPO, check=True,
                          capture_output=True, text=True).stdout.strip()


def _probe_once(root: str, sf_dir: str, n_docs: int) -> float:
    out = subprocess.run(
        [sys.executable, "-c",
         _PROBE_SNIPPET.format(root=root, sf=sf_dir, n=n_docs)],
        check=True, capture_output=True, text=True, cwd=root)
    return float(json.loads(out.stdout.strip().splitlines()[-1])
                 ["kernel_ms_per_doc"])


def _prev_round_sha() -> str:
    """The newest 'round N:' commit belonging to a COMPLETED round —
    capped by max(CORRECTNESS_r*.json), the same completed-round rule
    bench.py's shared-sum comparison uses. Without the cap, a bench
    re-run after the driver commits the CURRENT round's ledger would
    A/B the kernel against itself and report ratio 1.0 over any real
    regression."""
    import glob
    import re

    corr = [int(m.group(1)) for p in
            glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
            if (m := re.search(r"_r(\d+)\.json$", p))]
    if not corr:
        return ""  # round 1: nothing completed to compare against
    cap = max(corr)
    lines = _git("log", "-E", "--grep", r"^round [0-9]+:",
                 "-n", "10", "--format=%H %s")
    for line in lines.splitlines():
        sha, _, subject = line.partition(" ")
        m = re.match(r"round (\d+):", subject)
        if m and int(m.group(1)) <= cap:
            return sha
    return ""


def _interleaved(sha: str, sf_dir: str, n_docs: int, reps: int) -> tuple:
    """(base ms/doc per rep, current ms/doc per rep), the base being the
    committed tree ``sha``, exported to a scratch directory."""
    tree = tempfile.mkdtemp(prefix="defuddle_kernel_ab_")
    try:
        archive = subprocess.run(["git", "archive", sha], cwd=REPO,
                                 check=True, capture_output=True).stdout
        with tarfile.open(fileobj=io.BytesIO(archive)) as tar:
            tar.extractall(tree)
        base, cur = [], []
        for _ in range(reps):
            base.append(_probe_once(tree, sf_dir, n_docs))
            cur.append(_probe_once(REPO, sf_dir, n_docs))
        return base, cur
    finally:
        shutil.rmtree(tree, ignore_errors=True)


def run_kernel_ab(sf_dir: str = "/root/testdata/sf0.01",
                  n_docs: int = N_DOCS, reps: int = 3) -> dict:
    """Returns the kernel_ab_* fields against the previous round, or {}
    when there is no previous round commit / no usable git state (round
    1, detached sandboxes)."""
    try:
        sha = _prev_round_sha()
        if not sha:
            return {}
        base, cur = _interleaved(sha, sf_dir, n_docs, reps)
    except (subprocess.CalledProcessError, OSError, ValueError,
            KeyError, json.JSONDecodeError, tarfile.TarError):
        return {}
    return _best(sha, base, cur)


def _best(sha: str, base: list, cur: list) -> dict:
    return {
        "kernel_ab_prev_sha": sha[:12],
        "kernel_ab_prev_ms_per_doc": round(min(base), 4),
        "kernel_ab_cur_ms_per_doc": round(min(cur), 4),
        "kernel_ab_ratio": round(min(cur) / min(base), 4),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--base", default=None,
                    help="commit to compare against (default: the "
                         "previous round's commit)")
    ap.add_argument("--reps", type=int, default=3,
                    help="alternating reps per side (default 3)")
    args = ap.parse_args()
    sha = _git("rev-parse", args.base) if args.base else _prev_round_sha()
    if not sha:
        print(json.dumps({}))
        return
    base, cur = _interleaved(sha, args.sf_dir, N_DOCS, args.reps)
    print(json.dumps({
        **_best(sha, base, cur),
        "kernel_ab_prev_median_ms": round(statistics.median(base), 4),
        "kernel_ab_cur_median_ms": round(statistics.median(cur), 4),
        "kernel_ab_median_ratio": round(
            statistics.median(cur) / statistics.median(base), 4),
        "kernel_ab_cur_faster_reps": sum(c < b for b, c in zip(base, cur)),
        "kernel_ab_reps": args.reps,
    }))


if __name__ == "__main__":
    main()
