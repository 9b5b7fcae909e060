"""One crawl driver: the tools reach the crawl-cycle operators only
through ``pipeline/crawl_loop.py``'s ``Crawler``.

The CLI and REST step commands run ``Crawler``'s stages, the code
``run_cycle`` runs. A tool that imported ``generate`` or ``updatedb``
itself would be a second crawl cycle, with its own writes and no
lineage, that nothing checks against ``run_cycle``."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
TOOLS = sorted((ROOT / "tools").glob("*.py"))
CYCLE_OPERATORS = frozenset(
    {"inject_full", "generate", "fetch", "parse", "updatedb", "updatedb_incremental"}
)
# the operator modules those functions live in
CYCLE_MODULES = frozenset({"inject", "generate", "fetchsim", "parse", "updatedb"})


def cycle_operator_uses(paths) -> list[str]:
    """Imports of a crawl-cycle operator or of its module from
    ``nutch_spark.operators``, and bare-name calls of one."""
    found = []
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            where = f"{path}:{getattr(node, 'lineno', 0)}"
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
                "nutch_spark.operators"
            ):
                names = CYCLE_MODULES if node.module == "nutch_spark.operators" else CYCLE_OPERATORS
                found += [f"{where} import {a.name}" for a in node.names if a.name in names]
            elif isinstance(node, ast.Import):
                found += [
                    f"{where} import {a.name}" for a in node.names
                    if a.name.rsplit(".", 1)[-1] in CYCLE_MODULES
                    and a.name.startswith("nutch_spark.operators.")
                ]
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id in CYCLE_OPERATORS
            ):
                found.append(f"{where} {node.func.id}()")
    return found


def test_tools_run_no_second_crawl_cycle(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text(
        "from nutch_spark.operators.generate import generate, free_generate\n"
        "from nutch_spark.operators import fetchsim, stats\n"
        "import nutch_spark.operators.updatedb as u\n"
        "updatedb(db, seg, cfg, now)\n"
        "crawler.generate(db, now)\n"
        "free_generate(spark, seeds, cfg, now)\n"
    )
    # the scan sees every form it forbids, and only those: a Crawler
    # stage method and a non-cycle operator pass
    assert [s.split(" ", 1)[1] for s in cycle_operator_uses([probe])] == [
        "import generate", "import fetchsim", "import nutch_spark.operators.updatedb",
        "updatedb()",
    ]
    assert (ROOT / "tools" / "nutch.py") in TOOLS
    assert cycle_operator_uses(TOOLS) == []
