"""Dump physical plans for the heaviest contract queries.

Writes BENCH/plans/<query>.txt with `.explain("formatted")` output plus
a scan summary (PushedFilters / ReadSchema lines) so plan regressions
(lost pushdown, Python UDF creeping into a hot path, unexpected
global sort) are reviewable as text diffs. A file is rewritten only
when its plan differs from the committed one beyond the tokens that
change on every run (expression ids, ``_common_expr_N`` and lambda
variable names, exchange ``plan_id``s, JVM object addresses);
otherwise the query prints ``unchanged``.

    python tools/explain_audit.py [sf_dir] [query ...]

An ``sf_dir`` argument applies to every query. Without one, each query
reruns at the ``sf_dir:`` its committed plan file names, so a default
run does not rewrite a plan that was made at another scale factor; a
query with no committed file uses ``DEFAULT_SF_DIR``.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

DEFAULT_QUERIES = [
    "updatedb_states",
    "updatedb_incremental",
    "generate_quota",
    "fetch_statuses",
    "parse_outlinks",
    "minhash_near_dups",
    "embedding_topk",
    "ivf_topk",
    "linkdb_invert",
    "dedup_mark",
    "depth_gate",
]

# tokens that differ between two plannings of the same query
_VOLATILE = [
    (re.compile(r"#\d+"), "#N"),  # expression ids: url#123
    (re.compile(r"_common_expr_\d+"), "_common_expr_N"),
    (re.compile(r"(?<=lambda )([A-Za-z]+)_\d+"), r"\1_N"),  # lambda x_50
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=N]"),
    (re.compile(r"(?<=[\w\[$;])@[0-9a-f]+\b"), "@ADDR"),  # [B@6958aa64
]


def normalize_plan(text: str) -> str:
    for pat, sub in _VOLATILE:
        text = pat.sub(sub, text)
    return text


def write_if_changed(path: str, text: str) -> bool:
    """Write ``text`` to ``path`` unless the file already holds the same
    plan up to volatile tokens; returns whether it wrote."""
    if os.path.exists(path):
        with open(path) as f:
            if normalize_plan(f.read()) == normalize_plan(text):
                return False
    with open(path, "w") as f:
        f.write(text)
    return True


def committed_sf_dir(path: str) -> str:
    """The ``sf_dir:`` header of the plan file at ``path``, or
    ``DEFAULT_SF_DIR`` when there is no file or no such header."""
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                if line.startswith("sf_dir: "):
                    return line[len("sf_dir: "):].strip()
                if line.startswith("="):  # end of the summary header
                    break
    return DEFAULT_SF_DIR


def main() -> int:
    args = sys.argv[1:]
    given_sf_dir = args.pop(0) if args and os.path.isdir(args[0]) else None
    names = args or DEFAULT_QUERIES

    import __spark_entry__ as E
    from nutch_spark.session import get_spark

    spark = get_spark(app_name="explain_audit", master="local[4]", shuffle_partitions=4)
    os.makedirs("BENCH/plans", exist_ok=True)
    qs = E.queries()
    rc = 0
    for name in names:
        path = f"BENCH/plans/{name}.txt"
        sf_dir = given_sf_dir or committed_sf_dir(path)
        # one bad name / one analysis error must not abort the audit and
        # leave the remaining plan files silently stale
        try:
            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
        except Exception as e:  # noqa: BLE001
            print(f"{name}: FAILED to plan ({type(e).__name__}: {e})")
            rc = 1
            continue
        text = buf.getvalue()
        flags = []
        if "BatchEvalPython" in text:
            flags.append("WARNING: row-at-a-time Python UDF in plan")
        n_exchange = text.count("Exchange")
        # count Python nodes from the numbered-operator list (the tree
        # rendering repeats each node, which would double-count)
        n_python = sum(
            1 for ln in text.splitlines()
            if ln.startswith("(") and "ArrowEvalPython" in ln
        )
        summary = (
            f"query: {name}\nsf_dir: {sf_dir}\n"
            f"exchanges: {n_exchange}\npython_nodes: {n_python}\n"
            + ("\n".join(flags) + "\n" if flags else "")
            + "=" * 72 + "\n"
        )
        wrote = write_if_changed(path, summary + text)
        print(
            f"{name}: exchanges={n_exchange} python_nodes={n_python} "
            f"{'written' if wrote else 'unchanged'} {' '.join(flags)}"
        )
    spark.stop()
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
