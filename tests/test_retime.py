"""The scale-row harness: ``tools/retime_some.py``'s two-corpus form,
which measures STRESS_SF*.json and SKEW_STRESS.json."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

from .conftest import SF_DIR

REPO = Path(__file__).resolve().parents[1]


def test_retime_pair_rows_and_roster(spark, tmp_path):
    """A corpus timed against itself (B is a link to A) gives equal row
    counts and r = 1; a run with no qid re-measures exactly the block's
    rows and leaves the file's other blocks as they were."""
    spec = importlib.util.spec_from_file_location(
        "retime_some", REPO / "tools" / "retime_some.py"
    )
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    retime_pair = tool.retime_pair
    twin = tmp_path / "twin"
    twin.symlink_to(SF_DIR)
    out = tmp_path / "rows.json"
    other = {"_meta": {"hot_share": "kept"}, "q02_bars_tumbling": {"x": 1}}
    out.write_text(json.dumps({"other": other}))
    qid, a = "q01_scan_filter_project", Path(SF_DIR).name

    retime_pair(spark, SF_DIR, str(twin), str(out), "blk", [qid])
    doc = json.loads(out.read_text())
    row = doc["blk"][qid]
    assert set(row) == {f"{a}_sec", "twin_sec", f"{a}_rows", "twin_rows", "vs_linear"}
    assert row[f"{a}_rows"] == row["twin_rows"] > 0
    assert doc["blk"]["_meta"] == {"a_dir": SF_DIR, "b_dir": str(twin), "r": 1}

    row["twin_rows"] = -1  # a stale row the re-run must replace
    out.write_text(json.dumps(doc))
    retime_pair(spark, SF_DIR, str(twin), str(out), "blk")
    doc = json.loads(out.read_text())
    assert set(doc["blk"]) == {"_meta", qid}
    assert doc["blk"][qid]["twin_rows"] == doc["blk"][qid][f"{a}_rows"] > 0
    assert doc["other"] == other
