"""Crawl-semantics gate: the Spark engine must reproduce the single-threaded
oracle's crawl ordering and URL-seen set on a deterministic synthetic web,
with robots + politeness applied, and must resume from checkpoint to the
identical state (north rule, BASELINE.json:6,14).
"""

from __future__ import annotations

import shutil

import pytest

from fakepilot_spark.corpus import synth_pages
from fakepilot_spark.crawl.engine import CrawlConfig, CrawlEngine
from fakepilot_spark.crawl.oracle import oracle_crawl
from fakepilot_spark.extract.fields import link_hrefs
from fakepilot_spark.htmlmini import parse

N_PAGES = 90
SEEDS = [
    "https://host0.example.com/review/c0",
    "https://host0.example.com/review/c3",
    "https://host2.example.com/review/c38",
    "https://missing.example.com/nowhere",  # exercises the 404 path
]
ROBOTS = {
    "host5.example.com": (["/review"], 1.0),
    # no disallow, but a crawl-delay that binds: floor(60 / 35) = 1 per epoch
    "host2.example.com": ([], 35.0),
}
BUDGETS = {"host0.example.com": 1}  # tighter budget on the mega-host


@pytest.fixture(scope="module")
def corpus_df(spark):
    return synth_pages(
        spark, N_PAGES, partitions=4, hosts=7, skew_mega_host=True,
        reviews_per_page=2, links_per_page=3,
    ).cache()


@pytest.fixture(scope="module")
def corpus_dict(corpus_df):
    """url -> links, built through the *independent* pure-Python parser path."""
    rows = corpus_df.select("url", "html").collect()
    return {
        r["url"]: [h for h in link_hrefs(parse(bytes(r["html"]))) if h.startswith("http")]
        for r in rows
    }


def _mk_engine(spark, corpus_df, tmp_path, use_sketches=True):
    cfg = CrawlConfig(
        checkpoint_dir=str(tmp_path),
        seeds=SEEDS,
        max_epochs=4,
        global_batch=12,
        default_budget=2,
        nreviews=2,
        robots_rules=ROBOTS,
        host_budgets=BUDGETS,
        use_sketches=use_sketches,
        bloom_capacity=4096,
        cuckoo_partitions=4,
        cuckoo_capacity_per_partition=4096,
    )
    return CrawlEngine(spark, corpus_df, cfg)


@pytest.fixture(scope="module")
def oracle_result(corpus_dict):
    return oracle_crawl(
        corpus_dict,
        seeds=SEEDS,
        max_epochs=4,
        global_batch=12,
        default_budget=2,
        host_budgets=BUDGETS,
        robots_rules=ROBOTS,
    )


@pytest.fixture(scope="module")
def engine_run(spark, corpus_df, tmp_path_factory):
    ckpt = tmp_path_factory.mktemp("crawl_ckpt")
    engine = _mk_engine(spark, corpus_df, ckpt)
    summary = engine.run()
    return engine, summary


def test_crawl_ordering_matches_oracle(engine_run, oracle_result):
    engine, _ = engine_run
    assert engine.fetched_urls_in_order() == oracle_result["fetched_per_epoch"]


def test_seen_set_matches_oracle(engine_run, oracle_result, spark):
    engine, _ = engine_run
    last = engine.last_committed_epoch()
    seen = {
        r["url"] for r in engine._read_seen_through(last).collect()
    }
    assert seen == oracle_result["seen"]


def test_robots_respected(engine_run):
    engine, _ = engine_run
    fetched = [u for epoch in engine.fetched_urls_in_order() for u in epoch]
    assert fetched, "crawl fetched nothing"
    assert not [u for u in fetched if u.startswith("https://host5.example.com/review")]


def test_crawl_delay_caps_per_epoch(engine_run):
    """host2's robots crawl-delay (35 s, 60 s virtual epoch) caps it at 1
    fetch per epoch even though the default budget is 2."""
    engine, _ = engine_run
    for epoch_urls in engine.fetched_urls_in_order():
        host2 = [u for u in epoch_urls if u.startswith("https://host2.")]
        assert len(host2) <= 1


def test_politeness_budget_respected(engine_run):
    engine, _ = engine_run
    for epoch_urls in engine.fetched_urls_in_order():
        host0 = [u for u in epoch_urls if u.startswith("https://host0.")]
        assert len(host0) <= BUDGETS["host0.example.com"]


def test_extraction_outputs_present(engine_run):
    engine, summary = engine_run
    companies = engine.companies_df()
    assert companies.filter("extract_error is not null").count() == 0
    assert companies.count() == summary["total_fetched"]
    reviews = engine.reviews_df()
    assert reviews.count() > 0


def test_lineage_accounts_for_every_fetch(engine_run, spark):
    """North-rule lineage fields (BASELINE.json:6): every committed epoch
    carries a lineage table whose per-partition ``urls_fetched`` sums to the
    epoch's fetch count, with the epoch id and a fetch timestamp on every
    row."""
    engine, summary = engine_run
    for ep in summary["epochs"]:
        rows = spark.read.parquet(
            str(engine.ckpt / "lineage" / f"epoch={ep['epoch']}")
        ).collect()
        assert sum(r["urls_fetched"] for r in rows) == ep["urls_fetched"]
        assert {r["frontier_epoch"] for r in rows} == {ep["epoch"]}
        assert all(r["fetch_ts"] is not None for r in rows)
        assert len({r["partition_id"] for r in rows}) == len(rows)


def test_resume_reproduces_uninterrupted_run(spark, corpus_df, tmp_path_factory, engine_run):
    """Kill after 2 epochs, resume, compare to the uninterrupted run."""
    full_engine, _ = engine_run
    ckpt = tmp_path_factory.mktemp("crawl_resume")
    e1 = _mk_engine(spark, corpus_df, ckpt)
    e1.run(max_epochs=2)
    assert e1.last_committed_epoch() == 1
    e2 = _mk_engine(spark, corpus_df, ckpt)  # fresh engine = process restart
    e2.run()
    assert e2.fetched_urls_in_order() == full_engine.fetched_urls_in_order()


def test_sketches_do_not_change_results(spark, corpus_df, tmp_path_factory, engine_run, oracle_result):
    full_engine, _ = engine_run
    ckpt = tmp_path_factory.mktemp("crawl_nosketch")
    engine = _mk_engine(spark, corpus_df, ckpt, use_sketches=False)
    engine.run()
    assert engine.fetched_urls_in_order() == full_engine.fetched_urls_in_order()


def test_resume_rebuilds_missing_sketches(spark, corpus_df, tmp_path_factory, engine_run):
    """Manifest-present / sketches-absent state must resume exactly. This is
    now the NORMAL end-of-run state, not just a crash window: the last epoch
    of a run never builds sketches (no epoch in that run consumes them), so
    a resume's first expand rebuilds both sketches from the committed delta
    union. The deferred-build crash window (a kill between an earlier
    epoch's manifest and its background sketch write) leaves the identical
    on-disk state, so this covers both."""
    full_engine, _ = engine_run
    ckpt = tmp_path_factory.mktemp("crawl_sketchloss")
    e1 = _mk_engine(spark, corpus_df, ckpt)
    e1.run(max_epochs=2)
    last = e1.last_committed_epoch()
    assert last == 1
    sk = ckpt / "sketches" / f"epoch={last}"
    # the last epoch's sketch build is skipped by design: manifest committed,
    # sketches absent — exactly what a crash mid-deferred-build leaves behind
    assert not (sk / "bloom.bin").exists()
    e2 = _mk_engine(spark, corpus_df, ckpt)  # fresh engine = process restart
    e2.run()
    assert e2.fetched_urls_in_order() == full_engine.fetched_urls_in_order()
    # the rebuilt sketches were committed under the epoch that lacked them
    assert (sk / "bloom.bin").exists()


def test_torn_or_tmp_manifest_is_not_committed(tmp_path):
    """A crash while a manifest is written leaves a ``.tmp`` (or, from a
    writer that is not atomic, a torn JSON file): neither is a commit."""
    from fakepilot_spark.crawl.engine import _manifest_path, _write_manifest

    eng = CrawlEngine.__new__(CrawlEngine)  # state io only: no Spark
    eng.ckpt = tmp_path
    (tmp_path / "manifests").mkdir()
    _write_manifest(_manifest_path(tmp_path, -1), {"epoch": -1, "seeded": 3})
    _write_manifest(_manifest_path(tmp_path, 0), {"epoch": 0, "pending_after": 5})
    assert sorted(p.name for p in (tmp_path / "manifests").iterdir()) == [
        "epoch_-0001.json", "epoch_00000.json",
    ]
    full = (tmp_path / "manifests" / "epoch_00000.json").read_text()
    _manifest_path(tmp_path, 1).write_text(full[: len(full) // 2])  # torn
    (tmp_path / "manifests" / "epoch_00002.json.tmp").write_text(full)
    assert eng.last_committed_epoch() == 0
    assert eng._pending_count(0) == 5
    assert eng._pending_count(1) is None
    assert eng._pending_count(2) is None


def test_resume_over_torn_manifest(spark, corpus_df, tmp_path_factory, engine_run):
    """Epoch 1's data committed but its manifest torn: resume re-runs epoch 1
    and ends where the uninterrupted run does."""
    full_engine, _ = engine_run
    ckpt = tmp_path_factory.mktemp("crawl_torn")
    e1 = _mk_engine(spark, corpus_df, ckpt)
    e1.run(max_epochs=2)
    m = ckpt / "manifests" / "epoch_00001.json"
    m.write_text(m.read_text()[:10])
    e2 = _mk_engine(spark, corpus_df, ckpt)
    assert e2.last_committed_epoch() == 0
    e2.run()
    assert e2.fetched_urls_in_order() == full_engine.fetched_urls_in_order()
