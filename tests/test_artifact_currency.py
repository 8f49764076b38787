"""Artifact-currency guard (r5 VERDICT item 1): a late registry row
can never again ship with stale close-out artifacts.  The latest
SELFCHECK_r*.json and PLANS.md must cover exactly the current
registry -- name for name, not just count for count -- and the
selfcheck must be clean.  Regeneration recipe when this fails:

    python tools/check_correctness.py /root/testdata/sf0.01 \
        --json SELFCHECK_r<N>.json
    python tools/dump_plans.py
"""

from __future__ import annotations

import glob
import json
import os
import re

from nyc_crash_mapper_etl_script_spark import harness

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _latest_selfcheck() -> tuple[str, dict]:
    """Newest FULL-registry selfcheck -- the plain SELFCHECK_r<N>.json
    series.  Purpose-scoped artifacts (e.g. the r11 never-sampled-rows
    run, SELFCHECK_r11_unsampled.json) are deliberately excluded: they
    cover a row subset by design."""
    files = [
        p
        for p in glob.glob(os.path.join(REPO, "SELFCHECK_r*.json"))
        if re.search(r"_r(\d+)\.json$", p)
    ]
    assert files, "no SELFCHECK_r*.json committed"
    latest = max(
        files, key=lambda p: int(re.search(r"_r(\d+)\.json$", p).group(1))
    )
    with open(latest) as f:
        return latest, json.load(f)


def test_selfcheck_covers_current_registry():
    names = set(harness.queries())
    path, sc = _latest_selfcheck()
    assert sc["n_queries"] == len(names), (
        f"{os.path.basename(path)} has {sc['n_queries']} results but the "
        f"registry has {len(names)} -- regenerate (see module docstring)"
    )
    assert set(sc["results"]) == names, (
        f"{os.path.basename(path)} names differ from the registry: "
        f"missing={sorted(names - set(sc['results']))[:5]} "
        f"stale={sorted(set(sc['results']) - names)[:5]}"
    )
    assert sc["n_failed"] == 0, f"{os.path.basename(path)} records failures"


def test_readme_query_count_matches_registry():
    """The README's 'N named queries' line drifted once (r6 ADVICE:
    said 157 at a 158-row registry) -- derive it from the registry so
    it can't again."""
    with open(os.path.join(REPO, "README.md")) as f:
        m = re.search(r"(\d+) named queries", f.read())
    assert m, "README.md no longer states the registry size"
    assert int(m.group(1)) == len(harness.queries()), (
        f"README says {m.group(1)} named queries but the registry has "
        f"{len(harness.queries())} -- bump the README line"
    )


def test_plans_md_covers_current_registry():
    names = set(harness.queries())
    with open(os.path.join(REPO, "PLANS.md")) as f:
        sections = set(re.findall(r"^## (\S+)$", f.read(), re.M))
    assert sections == names, (
        "PLANS.md sections differ from the registry -- regenerate with "
        f"tools/dump_plans.py: missing={sorted(names - sections)[:5]} "
        f"stale={sorted(sections - names)[:5]}"
    )
