"""tools/explain_audit.py rewrites a committed plan file only when the
plan changed beyond the tokens every planning renumbers."""

import sys

sys.path.insert(0, "tools")

import explain_audit  # noqa: E402

PLAN = (
    "(3) Project [codegen id : 1]\n"
    "Output [2]: [url#12, _common_expr_0#40]\n"
    "Input [2]: [url#12L, x#7]\n"
    "Arguments: [B@6958aa64, ArrowEvalPython [_norm(url#12)#33]\n"
    "Output [1]: [transform(e#3, lambdafunction(lambda x_50#9, lambda x_50#9, false))]\n"
    "Arguments: hashpartitioning(url#12, 4), ENSURE_REQUIREMENTS, [plan_id=1344]\n"
)
# the same plan planned again: new ids, names and JVM addresses
REPLANNED = (
    PLAN.replace("#12", "#98").replace("#40", "#41").replace("#7", "#8")
    .replace("#33", "#120").replace("_common_expr_0", "_common_expr_3")
    .replace("[B@6958aa64", "[B@2d7f46e7").replace("x_50", "x_47")
    .replace("plan_id=1344", "plan_id=1032")
)


def test_replanned_plan_is_unchanged(tmp_path):
    path = tmp_path / "q.txt"
    path.write_text(PLAN)
    assert explain_audit.normalize_plan(REPLANNED) == explain_audit.normalize_plan(PLAN)
    assert not explain_audit.write_if_changed(str(path), REPLANNED)
    assert path.read_text() == PLAN  # committed text kept byte for byte


def test_changed_or_missing_plan_is_written(tmp_path):
    path = tmp_path / "q.txt"
    assert explain_audit.write_if_changed(str(path), PLAN)  # no file yet
    changed = REPLANNED.replace("Project", "Filter")
    assert explain_audit.write_if_changed(str(path), changed)
    assert path.read_text() == changed
    # an id that is not volatile text (a different column) still counts
    assert explain_audit.normalize_plan("[url#1]") != explain_audit.normalize_plan("[host#1]")


def test_committed_sf_dir_reads_the_plan_header(tmp_path, monkeypatch):
    path = tmp_path / "q.txt"
    path.write_text(
        "query: q\nsf_dir: /data/sf0.01\nexchanges: 3\npython_nodes: 0\n"
        + "=" * 72 + "\n" + PLAN
    )
    assert explain_audit.committed_sf_dir(str(path)) == "/data/sf0.01"
    # no committed file, or a file without the header: the default sf
    monkeypatch.setattr(explain_audit, "DEFAULT_SF_DIR", "/data/sf0.001")
    assert explain_audit.committed_sf_dir(str(tmp_path / "new.txt")) == "/data/sf0.001"
    path.write_text(PLAN)
    assert explain_audit.committed_sf_dir(str(path)) == "/data/sf0.001"


def test_committed_plans_keep_their_scale_factor():
    """The four plans made at sf0.01 rerun there by default."""
    for name in ("parse_outlinks", "crawldb_404_purge", "meta_directives",
                 "parse_meta_effects"):
        assert explain_audit.committed_sf_dir(f"BENCH/plans/{name}.txt").endswith("sf0.01")
    assert explain_audit.committed_sf_dir("BENCH/plans/dedup_mark.txt").endswith("sf0.001")
