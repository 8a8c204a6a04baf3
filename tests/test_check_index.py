"""CheckIndex CLI tool (tools/check_index.py): a freshly built, a merged
and a split index pass the deep check; tampered stats / unreadable
segment files and an unsorted docmap are detected; exit-code
contract."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from lucene_solr_spark.index.build import build_index
from lucene_solr_spark.transcripts import transcripts_from_documents
from tools.check_index import check_index


@pytest.fixture(scope="module")
def built_root(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("chk"))
    t = transcripts_from_documents(spark, sf_dir)
    build_index(spark, t, root, num_parts=3, lineage_source=sf_dir)
    return root


def test_clean_index_passes_deep(spark, built_root):
    rep = check_index(spark, built_root, deep=True)
    assert rep["ok"] and rep["errors"] == []
    assert rep["segments"] == 3 and rep["deep"]


def test_merged_index_passes_deep(spark, built_root, tmp_path):
    from lucene_solr_spark.index.merge import merge_segments

    root = str(tmp_path / "merged")
    shutil.copytree(built_root, root)
    merge_segments(spark, root, merge_factor=2)
    rep = check_index(spark, root, deep=True)
    assert rep["ok"] and rep["errors"] == [], rep["errors"]
    assert rep["segments"] == 2 and rep["deep"]


def test_split_index_passes_deep(spark, built_root, tmp_path):
    from lucene_solr_spark.index.manifest import Manifest
    from lucene_solr_spark.index.split import split_segment

    root = str(tmp_path / "split")
    shutil.copytree(built_root, root)
    split_segment(spark, root, sorted(Manifest.load(root).segments)[0],
                  n_children=2)
    rep = check_index(spark, root, deep=True)
    assert rep["ok"] and rep["errors"] == [], rep["errors"]
    assert rep["segments"] == 4 and rep["deep"]


def test_tampered_stats_detected(spark, built_root, tmp_path):
    root = str(tmp_path / "tampered")
    shutil.copytree(built_root, root)
    mdir = os.path.join(root, "manifest")
    snaps = sorted(os.listdir(mdir))
    path = os.path.join(mdir, snaps[-1])
    payload = json.load(open(path))
    name = sorted(payload["segments"])[0]
    payload["segments"][name]["n_postings"] += 7
    payload["segments"][name]["sum_dl"] -= 1
    json.dump(payload, open(path, "w"))
    rep = check_index(spark, root, deep=False)
    assert not rep["ok"]
    assert any("n_postings" in e for e in rep["errors"])
    assert any("sum_dl" in e for e in rep["errors"])


def test_stale_block_max_detected(spark, built_root, tmp_path):
    """Deep mode recomputes every block's max tf from the decoded tf
    stream: one bumped ``max_tfs`` entry is reported."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "stale")
    shutil.copytree(built_root, root)
    seg = sorted(os.listdir(os.path.join(root, "segments")))[0]
    path = os.path.join(root, "segments", seg, "postings.parquet")
    t = pq.read_table(path)
    mts = t["max_tfs"].to_pylist()
    mts[0] = [mts[0][0] + 1] + mts[0][1:]
    t = t.set_column(t.schema.get_field_index("max_tfs"), "max_tfs",
                     pa.array(mts, t.schema.field("max_tfs").type))
    pq.write_table(t, path)
    assert check_index(spark, root, deep=False)["ok"]
    rep = check_index(spark, root, deep=True)
    assert not rep["ok"]
    term = t["term"][0].as_py()
    assert rep["errors"] == [f"{seg}/{term}: block-max tf stale (block 0)"]


def test_unsorted_docmap_detected(spark, built_root, tmp_path):
    """A docmap whose rows leave the (conv_id, turn_idx) index sort is
    reported, though doc_ord is still a 0..n-1 permutation."""
    import pyarrow.parquet as pq

    root = str(tmp_path / "unsorted")
    shutil.copytree(built_root, root)
    seg = sorted(os.listdir(os.path.join(root, "segments")))[0]
    path = os.path.join(root, "segments", seg, "docmap.parquet")
    dm = pq.read_table(path)
    swap = [1, 0, *range(2, dm.num_rows)]  # rows 0 and 1 trade keys
    for col in ("conv_id", "turn_idx"):
        dm = dm.set_column(dm.schema.get_field_index(col), col,
                           dm[col].take(swap))
    pq.write_table(dm, path)
    rep = check_index(spark, root, deep=False)
    assert rep["errors"] == [
        f"{seg}: docmap not in (conv_id, turn_idx) order at doc_ord 1"]


def test_unreadable_segment_detected(spark, built_root, tmp_path):
    root = str(tmp_path / "broken")
    shutil.copytree(built_root, root)
    seg = sorted(os.listdir(os.path.join(root, "segments")))[0]
    pq = os.path.join(root, "segments", seg, "postings.parquet")
    if os.path.isdir(pq):
        shutil.rmtree(pq)
    else:
        os.remove(pq)
    rep = check_index(spark, root, deep=False)
    assert not rep["ok"]
    assert any("unreadable" in e for e in rep["errors"])


def test_empty_index_ok(spark, tmp_path):
    rep = check_index(spark, str(tmp_path / "nothing"))
    assert rep["ok"] and rep["segments"] == 0


def test_maintain_check_verb(spark, built_root):
    """`maintain_job.py check --index ... --deep` wraps the tool."""
    from jobs.maintain_job import main

    st = main(["check", "--index", built_root, "--deep"])
    assert st["cmd"] == "check" and st["ok"] and st["deep"]
