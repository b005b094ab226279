"""``tools/eager_builders.txt`` names the builders that run Spark jobs
while constructing their frame; ``bench.py`` gives exactly these a
phase-local warmup and a best-of-4 timing. The list must stay exact as the
registry evolves:

- every name in tools/eager_builders.txt is a registered query,
- detection at sf0.001 agrees with the file: a builder that runs Spark
  jobs at construction time is listed, a lazy one is not.

Detection builds every registered query once (construction only, no
result materialization), so this costs roughly the eager builders'
sf0.001 training/streaming work — a couple of minutes.
"""

from __future__ import annotations

import os

from lithops_dataframe_spark.plans import QUERIES

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def _documented() -> set[str]:
    out = set()
    for line in open(os.path.join(TOOLS, "eager_builders.txt")):
        line = line.split("#", 1)[0].strip()
        if line:
            out.add(line)
    return out


def test_eager_list_names_registered():
    unknown = _documented() - set(QUERIES)
    assert not unknown, f"eager_builders.txt names unknown queries: {sorted(unknown)}"


def test_eager_list_matches_detection(spark, sf_dir):
    import sys

    sys.path.insert(0, os.path.dirname(TOOLS))
    from tools.detect_eager import builder_job_counts

    counts = builder_job_counts(spark, sf_dir)
    detected = {n for n, c in counts.items() if c != 0}
    documented = _documented()
    undocumented = detected - documented
    stale = documented - detected
    assert not undocumented, (
        "builders run Spark jobs at construction but are missing from "
        f"tools/eager_builders.txt (bench.py would time them single-shot): {sorted(undocumented)}"
    )
    assert not stale, (
        "builders listed eager but detected lazy — remove them so "
        f"bench.py stops re-running them: {sorted(stale)}"
    )
