"""The crawl hot-path CPU ledger.

Replays each epoch's fetch of a committed crawl as cumulative pipelines and
charges the CPU each added stage costs to its layer:

1. scan → noop                                   ``sources``
2. + broadcast fetch join                        ``crawl.engine`` (fetch join)
3. + Arrow ``pandas_udf`` that only takes lengths ``extract.udfs`` (transfer)
4. + the engine's page extractor                 ``extract.udfs`` (extraction)
5. + parquet write of the extracted rows         ``crawl.engine`` (results write)

The scan and the extractor are the engine's own (``CrawlEngine._fetch_corpus``
and the extractor it builds with ``make_page_extractor``), so the ledger
follows the program when either changes. The join, the Arrow step and the
write are the ledger's: the engine inlines them in its epoch step.

The rows' sum set against the full crawl's CPU gives the residual: the
share of crawl CPU no row explains (drain, expand, frontier commit,
lineage and the sketch build).
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pandas as pd

from measure import force, tree_cpu_s

ROWS = (
    ("scan", "sources.scan_cpu_ms_per_page"),
    ("fetch_join", "crawl.engine.fetch_join_cpu_ms_per_page"),
    ("arrow", "extract.udfs.arrow_cpu_ms_per_page"),
    ("extract", "extract.udfs.extract_cpu_ms_per_page"),
    ("results_write", "crawl.engine.results_write_cpu_ms_per_page"),
)
RESIDUAL_LIMIT = 0.10


def _pipelines(engine, batch, out_dir: Path):
    import pyspark.sql.functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def arrow_lengths(html: pd.Series) -> pd.Series:
        return html.map(len)

    scan = engine._fetch_corpus(batch)
    fetched = F.broadcast(batch.select("url", "depth")).join(scan, "url", "inner")
    extracted = fetched.select("url", "depth", "warc_ts", engine._extract("html").alias("x"))
    return {
        "scan": lambda: force(scan),
        "fetch_join": lambda: force(fetched),
        "arrow": lambda: force(fetched.select("url", "depth", "warc_ts", arrow_lengths("html"))),
        "extract": lambda: force(extracted),
        "results_write": lambda: extracted.select("url", "depth", "warc_ts", "x.*")
        .write.mode("overwrite").parquet(str(out_dir)),
    }


def cpu_ledger(spark, wl, pages, ckpt: Path, cfg, epochs: list,
               full_cpu_ms_per_page: float, tracer) -> tuple:
    """(per-layer metrics, report) for ``epochs`` of the crawl committed at
    ``ckpt``; ``full_cpu_ms_per_page`` is the crawl's CPU over the same
    epochs."""
    import pyspark.sql.functions as F

    from fakepilot_spark.crawl.engine import CrawlEngine

    engine = CrawlEngine(spark, pages, cfg)

    results = spark.read.parquet(str(ckpt / "results")).select("epoch", "url", "depth")
    cum = {stage: 0.0 for stage, _ in ROWS}
    n_pages = 0
    out_root = wl.work / "ledger"
    for e in epochs:
        batch = results.where(F.col("epoch") == e).select("url", "depth").cache()
        n_pages += batch.count()
        runs = _pipelines(engine, batch, out_root / f"epoch={e}")
        for stage, _ in ROWS:
            with tracer.span("ledger", stage, epoch=e):
                c0 = tree_cpu_s()
                runs[stage]()
                cum[stage] += tree_cpu_s() - c0
        batch.unpersist()
    shutil.rmtree(out_root, ignore_errors=True)

    per_page = {stage: cum[stage] * 1000 / max(n_pages, 1) for stage in cum}
    metrics, prev = {}, 0.0
    for stage, name in ROWS:
        metrics[name] = per_page[stage] - prev
        prev = per_page[stage]
    explained = per_page[ROWS[-1][0]]
    residual = (full_cpu_ms_per_page - explained) / full_cpu_ms_per_page
    metrics["ledger.residual_frac"] = residual
    report = {
        "pages": n_pages,
        "rows_cpu_ms_per_page": {name: metrics[name] for _, name in ROWS},
        "explained_cpu_ms_per_page": explained,
        "full_crawl_cpu_ms_per_page": full_cpu_ms_per_page,
        "residual_frac": residual,
    }
    if residual > RESIDUAL_LIMIT:
        report["unmeasured"] = (
            "crawl.engine steps outside fetch_extract_write (drain, expand, "
            "frontier_commit, lineage, the deferred crawl.sketches build) and "
            "the JVM's planning, code generation and JIT for the crawl's plans"
        )
    return metrics, report
