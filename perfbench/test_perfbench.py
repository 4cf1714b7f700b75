"""Tests of the benchmark itself (not of the program it measures).

    python -m pytest perfbench -q -p no:cacheprovider

They pin the contract names, check that the seed changes the inputs but not
the verdict of the oracle checks, and that corrupted outputs are counted as
failures. Only the last test starts Spark.
"""

from __future__ import annotations

import copy
import json
import shutil
import subprocess
import sys
from pathlib import Path


HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import checks  # noqa: E402
import workloads  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

END_TO_END = ["setup_s", "items_per_s", "cpu_ms_per_item", "unit_s", "mem_mb"]
WORKLOADS = ["crawl_frontier", "operator_suite"]


def test_contract_names_are_pinned():
    assert [m["name"] for m in SPEC["end_to_end"]] == END_TO_END
    assert [w["name"] for w in SPEC["workloads"]] == WORKLOADS
    assert set(WORKLOADS) <= set(workloads.WORKLOADS)
    layer = [m["name"] for m in SPEC["per_layer"]]
    assert len(layer) == len(set(layer))
    assert [n for n in layer if n.startswith("ops.")] == [
        f"ops.{q}_s" for q in workloads.QUERIES
    ]
    for name in ("ledger.residual_frac", "crawl.sketches.bloom_fpr",
                 "crawl.politeness.admit_s", "htmlmini.parse_ms_per_page",
                 "spark.jobs_per_epoch", "session.start_s", "corpus.build_s",
                 "trace.overhead_frac"):
        assert name in layer
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def _oracle_outputs(wl):
    cfg = wl.config(Path("unused"))
    expected = checks.crawl_oracle(wl.links, cfg)
    return expected, copy.deepcopy(expected["fetched_per_epoch"]), set(expected["seen"])


def test_seed_changes_crawl_inputs_not_the_check(tmp_path):
    a = workloads.CrawlFrontier(tmp_path, 1)
    b = workloads.CrawlFrontier(tmp_path, 2)
    assert a.seeds != b.seeds
    assert a.links == b.links  # the corpus does not depend on the seed
    for wl in (a, b):
        expected, fetched, seen = _oracle_outputs(wl)
        assert len(expected["fetched_per_epoch"]) == wl.crawl["max_epochs"]
        attempted, failed, notes = checks.compare_crawl(fetched, seen, expected)
        assert attempted > 0 and failed == 0 and notes == []


def test_seed_changes_query_order_not_the_set():
    a, b = workloads.OperatorSuite(None, 1), workloads.OperatorSuite(None, 2)
    assert a.order != b.order
    assert sorted(a.order) == sorted(b.order) == sorted(workloads.QUERIES)


def test_scaled_tables_keep_keys_unique(tmp_path):
    import pyarrow.parquet as pq

    workloads.scale_tables(workloads.DATA, tmp_path / "t", {"documents": ("doc_id", 3)})
    src = pq.read_table(workloads.DATA / "documents.parquet")
    out = pq.read_table(tmp_path / "t" / "documents.parquet")
    ids = out["doc_id"].to_pylist()
    assert len(ids) == len(set(ids)) == 3 * src.num_rows
    assert sorted(out["text"].to_pylist()) == sorted(src["text"].to_pylist() * 3)
    assert len(list((tmp_path / "t" / "documents.parquet").iterdir())) == workloads.TABLE_FILES
    assert (tmp_path / "t" / "orders.parquet").read_bytes() == (
        workloads.DATA / "orders.parquet").read_bytes()


def test_corrupted_crawl_output_fails(tmp_path):
    wl = workloads.CrawlFrontier(tmp_path, 1)
    expected, fetched, seen = _oracle_outputs(wl)
    fetched[1] = fetched[1][1:]  # one page never fetched
    seen.add("https://host1.example.com/review/c999999")
    attempted, failed, notes = checks.compare_crawl(fetched, seen, expected)
    assert failed == 2 and len(notes) == 2 and attempted > failed


def test_corrupted_extraction_row_fails():
    from fakepilot_spark.extract.fields import extract_page
    from fakepilot_spark.sources import FIXTURE_ZIP

    import zipfile

    with zipfile.ZipFile(FIXTURE_ZIP) as zf:
        html = zf.read("www.granada.no.txt")
    want = extract_page(html, with_reviews=True, nreviews=3)
    company = {k: v for k, v in want.items() if k != "reviews"}
    company["company_url"] = company.pop("url")
    row = {"url": "u", "company": company, "reviews": want["reviews"], "extract_error": None}
    assert checks.compare_sampled_rows([row], {"u": html}, 3)[1] == 0
    bad = copy.deepcopy(row)
    bad["company"]["name"] += "x"
    errored = dict(row, extract_error="ValueError: boom")
    assert checks.compare_sampled_rows([bad, errored], {"u": html}, 3)[1] == 2


def test_corrupted_query_result_raises_failures():
    """OperatorSuite.check against DuckDB: a tampered result fails every
    timed execution of its query, and only those."""
    suite = workloads.OperatorSuite(None, 7)
    con, _ = checks.duckdb_connection(workloads.DATA)
    from fakepilot_spark.ops import registry

    _, oracles = registry()
    name = "doc_token_stats"
    good = con.execute(oracles[name]).fetchdf()
    con.close()
    bad = good.copy()
    bad.iloc[0, 0] = bad.iloc[0, 1]

    def outcome(frame):
        out = workloads.Outcome(item_rates=[1.0, 1.0])
        out.info.update(raised={}, samples={name: [0.1, 0.1]}, results={name: frame})
        return out

    suite.order = [name]
    assert suite.check(None, outcome(good)) == (2, 0, [])
    attempted, failed, notes = suite.check(None, outcome(bad))
    assert (attempted, failed) == (2, 2) and name in notes[0]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "operator_suite",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert res.returncode != 0
    assert "correct" not in res.stdout


def test_end_to_end_run_prints_contract_line():
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "operator_suite",
         "--seed", "3", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    last = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    assert set(last["metrics"]) == set(END_TO_END)
    assert all(v["value"] > 0 for v in last["metrics"].values())
