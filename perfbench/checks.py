"""Correctness checks. Each returns ``(attempted, failed, notes)``; they run
outside every timed section and their failures are what ``failed`` counts.

The oracles are independent of the Spark path they check:

* crawl: ``crawl.oracle.oracle_crawl`` over a links map computed from the
  corpus' arithmetic value rules (``corpus`` module docstring), never from
  parsed HTML; sampled rows against pure-Python ``extract_page``;
* operators: each query's DuckDB ``oracle_sql()``.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


# -- crawl ----------------------------------------------------------------------


def crawl_oracle(links_map: dict, cfg) -> dict:
    from fakepilot_spark.crawl.oracle import oracle_crawl

    return oracle_crawl(
        links_map,
        seeds=cfg.seeds,
        max_epochs=cfg.max_epochs,
        global_batch=cfg.global_batch,
        default_budget=cfg.default_budget,
        host_budgets=cfg.host_budgets,
        robots_rules=cfg.robots_rules,
        epoch_seconds=cfg.epoch_seconds,
    )


def compare_crawl(fetched_per_epoch: list, seen: set, expected: dict) -> tuple:
    """Per-epoch fetched URL sets and the URL-seen set against the oracle.
    Every URL fetched by only one side, in any epoch, is one failed
    operation; so is every URL in only one of the two seen sets."""
    want = expected["fetched_per_epoch"]
    attempted = sum(len(e) for e in want)
    failed, notes = 0, []
    for i in range(max(len(want), len(fetched_per_epoch))):
        got_e = set(fetched_per_epoch[i]) if i < len(fetched_per_epoch) else set()
        want_e = set(want[i]) if i < len(want) else set()
        diff = got_e ^ want_e
        if diff:
            failed += len(diff)
            notes.append(f"epoch {i}: {len(diff)} fetched URLs differ from the oracle")
    seen_diff = seen ^ expected["seen"]
    if seen_diff:
        failed += len(seen_diff)
        notes.append(f"URL-seen set: {len(seen_diff)} URLs differ from the oracle")
    return attempted, failed, notes


def compare_sampled_rows(rows: list, html_by_url: dict, nreviews: int) -> tuple:
    """rows: ``{url, company, reviews, extract_error}`` dicts from the
    committed results; each must equal pure-Python ``extract_page``."""
    from fakepilot_spark.extract.fields import extract_page

    failed, notes = 0, []
    for r in rows:
        want = extract_page(html_by_url[r["url"]], with_reviews=True, nreviews=nreviews)
        got = None
        if r["company"] is not None:  # the engine's layout -> extract_page's
            got = dict(r["company"], reviews=r["reviews"])
            got["url"] = got.pop("company_url")
        if r["extract_error"] is not None or got != want:
            failed += 1
            notes.append(f"sampled row {r['url']} differs from extract_page")
    return len(rows), failed, notes


# -- operator suite -------------------------------------------------------------


def _query_checker():
    """``scripts/check_queries.py``: its table list and canonical frame
    comparison are the repository's definition of query equality."""
    spec = importlib.util.spec_from_file_location(
        "check_queries", ROOT / "scripts" / "check_queries.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def duckdb_connection(data_dir: Path):
    import duckdb

    cq = _query_checker()
    con = duckdb.connect()
    for t in cq.TABLES:
        path = data_dir / f"{t}.parquet"
        files = f"{path}/*.parquet" if path.is_dir() else str(path)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{files}')")
    return con, cq.canon_frame


def query_mismatch(spark_pdf, oracle_pdf, canon_frame) -> str | None:
    s_cols, s_rows = canon_frame(spark_pdf)
    d_cols, d_rows = canon_frame(oracle_pdf)
    if s_cols != d_cols:
        return f"columns {s_cols} vs {d_cols}"
    if len(s_rows) != len(d_rows):
        return f"rows {len(s_rows)} vs {len(d_rows)}"
    if s_rows != d_rows:
        return "values differ"
    return None
