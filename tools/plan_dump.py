"""Dump full `.explain("formatted")` for named queries into a directory.

Usage:
    python tools/plan_dump.py /tmp/plans before name1 name2 ...
    python tools/plan_dump.py /tmp/plans after  name1 name2 ...

Writes <dir>/<name>_<tag>.txt (the directory is created), so a plan claim
can be checked against the before and after files. Run the parent's copy
of this tool for "before" and the change's for "after", both into a
scratch directory outside the repository. Reads the tables under
``MINI_SF_DIR`` (default: the catalog's default scale-factor directory).

Each dump goes through ``normalize_plan``, so two dumps of one unchanged
query are byte-identical even when they come from different processes.
One difference it leaves on purpose: ``mmr_diversity_eval``'s AQE final
plan picks ``BuildLeft`` or ``BuildRight`` for one broadcast join from run
to run, and masking the build side would hide a real plan change too.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_PLAN_ID = re.compile(r"\[plan_id=\d+\]")
_EXPR_ID = re.compile(r"#(\d+)")
_RDD_ID = re.compile(r"RDD\[(\d+)\]")


def _renumber(pattern: re.Pattern, fmt: str, text: str) -> str:
    ids: dict[str, str] = {}
    return pattern.sub(
        lambda m: fmt.format(ids.setdefault(m.group(1), str(len(ids) + 1))), text
    )


def normalize_plan(text: str) -> str:
    """Drop the per-session exchange ``plan_id`` counter and renumber the
    ``#n`` expression ids and the ``RDD[n]`` ids (a row-list relation's
    ``MapPartitionsRDD[226]``) in order of first appearance; all three
    counters are global to the JVM or the SparkContext, so they differ
    between processes for one plan."""
    text = _PLAN_ID.sub("[plan_id]", text)
    text = _renumber(_RDD_ID, "RDD[{}]", text)
    return _renumber(_EXPR_ID, "#{}", text)


def main() -> None:
    if len(sys.argv) < 4 or sys.argv[2] not in ("before", "after"):
        sys.exit("usage: plan_dump.py <dir> <before|after> <name>...")
    outdir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    from dawis_spark import queries as q
    from dawis_spark.catalog import DEFAULT_SF_DIR, register_testdata
    from dawis_spark.session import get_spark

    sf_dir = os.environ.get("MINI_SF_DIR", DEFAULT_SF_DIR)
    spark = get_spark("dawis-plan-dump")
    register_testdata(spark, sf_dir)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = q.QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        text = normalize_plan(buf.getvalue())
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        spark.catalog.clearCache()
        print(f"wrote {path} ({len(text)} bytes)", file=sys.stderr)


if __name__ == "__main__":
    main()
