"""The benchmark's workloads. Each one builds or opens its inputs, warms up,
runs its timed loop, checks what the program produced, and (traced runs
only) measures the layers beneath it.

Why each workload exists:

* ``crawl_frontier`` — small synthetic pages (``filler_kb=0``, 8 links) in
  a url-hash-bucketed parquet corpus, crawled for several epochs with a
  ``global_batch`` well below the pending frontier, per-host budgets, robots
  rules (disallow and crawl-delay) and the mega-host skew. Every epoch runs
  the two-phase drain, ``admit_per_host``, the sketch prefilter and the
  exact anti-join, and writes frontier and delta tables. The bloom filter is
  sized to the crawl's final seen set, so it runs at its design
  false-positive rate.
* ``operator_suite`` — a fixed list of ``ops.registry()`` queries, the
  cheapest of each ops module, on the TPC-H-style tables committed in
  ``perfbench/data``, the two they read replicated (:data:`SCALE`). No crawl
  calls this code; cuts there must not slow it.

The seed picks the crawl seed list and the query orders; the program sees
only those inputs. The crawl corpus depends only on its generation
parameters and is built once per checkout, as are the replicated tables.
README.md lists the workloads considered and left out, and why.
"""

from __future__ import annotations

import hashlib
import json
import random
import shutil
import time
from dataclasses import dataclass, field, replace
from pathlib import Path

from measure import cumulative_s, force, load_profiles, median, tree_cpu_s

DATA = Path(__file__).resolve().parent / "data"


@dataclass
class Outcome:
    """What one timed loop measured and what its checks found."""

    items: int = 0  # pages fetched+extracted, or queries executed
    wall_s: float = 0.0  # timed wall seconds over all iterations
    item_rates: list = field(default_factory=list)  # items/s, per iteration
    cpu_ms_per_item: list = field(default_factory=list)  # per iteration
    unit_s: float = 0.0  # the unit_s metric, see README.md
    attempted: int = 0
    failed: int = 0
    notes: list = field(default_factory=list)
    info: dict = field(default_factory=dict)

    def add_check(self, result: tuple) -> None:
        attempted, failed, notes = result
        self.attempted += attempted
        self.failed += failed
        self.notes.extend(notes)


# -- crawl_frontier ---------------------------------------------------------------


def page_url(pid: int, hosts: int, skew: bool) -> str:
    """URL of synthetic page ``pid`` (``corpus`` module value rules)."""
    if skew:
        host = 0 if pid % 3 == 0 else 1 + (pid * 2654435761) % (hosts - 1)
    else:
        host = pid % hosts
    return f"https://host{host}.example.com/review/c{pid}"


def links_map(gen: dict, n_pages: int) -> dict:
    """url -> outgoing links of every synthetic page, from the value rules
    alone: the crawl oracle's corpus, independent of any HTML parser."""
    hosts, skew, k = gen["hosts"], gen["skew_mega_host"], gen["links_per_page"]
    return {
        page_url(pid, hosts, skew): [
            page_url(((pid + 1 + j * 977) * 48271) % n_pages, hosts, skew)
            for j in range(k)
        ]
        for pid in range(n_pages)
    }


class CrawlFrontier:
    name = "crawl_frontier"
    n_pages = 2000
    buckets = 8
    gen = dict(hosts=101, skew_mega_host=True, reviews_per_page=3,
               links_per_page=8, filler_kb=0)
    n_seeds = 80
    crawl = dict(max_epochs=2, global_batch=60, default_budget=2, nreviews=3,
                 cuckoo_partitions=8)
    robots = {
        "host7.example.com": (["/review/c1"], 0.0),
        "host11.example.com": (["/review"], 0.0),
        "host13.example.com": ([], 30.0),  # crawl-delay: 2 fetches per epoch
    }
    budgets = {"host0.example.com": 12}
    warm_epochs = 1  # the first set-up's warm-up crawl
    traced_unit: dict = {}  # a traced run's two crawls are full crawls
    sample_rows = 6  # results rows checked against pure-Python extract_page

    def __init__(self, work: Path, seed: int):
        self.work = work
        tag = hashlib.md5(json.dumps([self.n_pages, self.gen], sort_keys=True).encode())
        self.corpus_dir = work / "corpus" / f"{self.name}-{tag.hexdigest()[:10]}"
        self.links = links_map(self.gen, self.n_pages)
        hosts = self.gen["hosts"]
        ids = random.Random(seed).sample(range(self.n_pages), self.n_seeds)
        # one URL outside the corpus exercises the fetch-miss path
        self.seeds = [page_url(p, hosts, True) for p in sorted(ids)] + [
            "https://missing.example.com/review/none"
        ]
        self._cfgs: dict = {}

    # inputs ----------------------------------------------------------------

    def _materialize(self, spark):
        from fakepilot_spark.corpus import materialize_corpus

        return materialize_corpus(
            spark, str(self.corpus_dir), self.n_pages,
            files=self.buckets, buckets=self.buckets, **self.gen,
        )

    def build(self, spark, tracer) -> float:
        """Materialize the corpus once per checkout; returns the seconds
        the first build took, kept beside the corpus."""
        stamp = self.corpus_dir / "_perfbench_build.json"
        if not stamp.exists():
            shutil.rmtree(self.corpus_dir, ignore_errors=True)
            t = time.perf_counter()
            with tracer.span("corpus", "materialize_corpus"):
                self._materialize(spark)
            stamp.write_text(json.dumps({"build_s": time.perf_counter() - t}))
        return json.loads(stamp.read_text())["build_s"]

    def open(self, spark, tracer):
        with tracer.span("corpus", "materialize_corpus", reuse=True):
            return self._materialize(spark)

    def warm(self, spark, pages, tracer, deep: bool = False) -> None:
        """The corpus into the page cache; ``deep`` (the first set-up in
        the JVM) also crawls ``warm_epochs`` epochs, so that the timed
        crawl runs plans Spark has planned and the JIT has compiled."""
        from fakepilot_spark.crawl.engine import CrawlEngine

        with tracer.span("sources", "warm-up scan"):
            force(pages.select("url", "html"))
        if deep:
            ckpt = self.work / "ckpt" / f"{self.name}-warm-up"
            shutil.rmtree(ckpt, ignore_errors=True)
            with tracer.span("crawl.engine", "warm-up crawl"):
                CrawlEngine(spark, pages, self.config(ckpt, self.warm_epochs)).run()
            shutil.rmtree(ckpt, ignore_errors=True)

    def config(self, ckpt: Path, epochs: int | None = None):
        """The crawl's config, for ``epochs`` epochs if given."""
        from fakepilot_spark.crawl.engine import CrawlConfig

        epochs = epochs or self.crawl["max_epochs"]
        if epochs not in self._cfgs:
            from checks import crawl_oracle

            base = CrawlConfig(
                checkpoint_dir="", seeds=self.seeds, robots_rules=self.robots,
                host_budgets=self.budgets, use_sketches=True,
                pages_path=str(self.corpus_dir), pages_buckets=self.buckets,
                **dict(self.crawl, max_epochs=epochs),
            )
            # bloom sized to the final seen set, so it runs at its design
            # false-positive rate rather than near-empty
            n_seen = len(crawl_oracle(self.links, base)["seen"])
            self._cfgs[epochs] = replace(
                base, bloom_capacity=n_seen,
                cuckoo_capacity_per_partition=max(2 * n_seen // base.cuckoo_partitions, 1 << 10),
            )
        return replace(self._cfgs[epochs], checkpoint_dir=str(ckpt))

    # timed loop ------------------------------------------------------------

    def measure(self, spark, pages, seconds: float, tracer, tag: str = "run"):
        """Crawls from scratch, at least once, and again while the next one
        should end inside ``seconds``; checkpoints stay for :meth:`check`.

        Each crawl is measured whole, from ``run()`` to its return: the
        first set-up's warm-up crawl has already had Spark plan and the JIT
        compile the plans every epoch runs."""
        from fakepilot_spark.crawl.engine import CrawlEngine

        out = Outcome()
        epoch_walls: list = []
        crawls: list = []
        while True:
            ckpt = self.work / "ckpt" / f"{self.name}-{tag}-{len(crawls)}"
            shutil.rmtree(ckpt, ignore_errors=True)
            cfg = self.config(ckpt)
            engine = CrawlEngine(spark, pages, cfg)
            summary = error = None
            t0, cpu0 = time.perf_counter(), tree_cpu_s()
            try:
                with tracer.span("crawl.engine", "CrawlEngine.run", crawl=len(crawls)) as sid:
                    start = tracer.now()
                    summary = engine.run()
            except Exception as exc:  # noqa: BLE001 - a failed crawl is a failed operation
                error = f"crawl raised {type(exc).__name__}: {exc}"
            wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
            crawls.append({"ckpt": ckpt, "cfg": cfg, "summary": summary, "error": error})
            if summary is not None:
                fetched = summary["total_fetched"]
                out.items += fetched
                out.item_rates.append(fetched / wall)
                out.cpu_ms_per_item.append(cpu * 1000 / max(fetched, 1))
                epoch_walls.extend(e["wall_sec"] for e in summary["epochs"])
                _epoch_spans(tracer, summary, start, sid)
            out.wall_s += wall
            if out.wall_s + wall > seconds:
                break
        out.unit_s = median(epoch_walls) if epoch_walls else out.wall_s
        # units: epochs the event-log window of a traced run covers
        units = sum(len(c["summary"]["epochs"]) for c in crawls if c["summary"])
        out.info.update(crawls=crawls, epoch_walls=epoch_walls, units=units)
        return out

    # checks ----------------------------------------------------------------

    def check(self, spark, out: Outcome) -> tuple:
        from checks import crawl_oracle

        attempted = failed = 0
        notes: list = []
        for c in out.info["crawls"]:
            expected = crawl_oracle(self.links, c["cfg"])
            total = sum(len(e) for e in expected["fetched_per_epoch"])
            if c["summary"] is None:
                attempted, failed = attempted + total, failed + total
                notes.append(c["error"])
                continue
            a, f, n = self._check_crawl(spark, Path(c["ckpt"]), c["cfg"], expected)
            attempted, failed = attempted + a, failed + f
            notes.extend(n)
        for c in out.info["crawls"][:-1]:
            shutil.rmtree(c["ckpt"], ignore_errors=True)
        return attempted, failed, notes

    def _check_crawl(self, spark, ckpt: Path, cfg, expected) -> tuple:
        import pyspark.sql.functions as F

        from checks import compare_crawl, compare_sampled_rows

        results = spark.read.parquet(str(ckpt / "results"))
        by_epoch: dict = {}
        for r in results.select("epoch", "url").collect():
            by_epoch.setdefault(r["epoch"], []).append(r["url"])
        fetched = [by_epoch.get(e, []) for e in range(max(by_epoch, default=-1) + 1)]
        seen = {r["url"] for r in spark.read.parquet(str(ckpt / "new")).select("url").collect()}
        attempted, failed, notes = compare_crawl(fetched, seen, expected)

        everything = sorted(u for e in fetched for u in e)
        step = max(len(everything) // self.sample_rows, 1)
        sample = everything[::step][: self.sample_rows]
        rows = [
            r.asDict(recursive=True)
            for r in results.where(F.col("url").isin(sample) | F.col("extract_error").isNotNull())
            .select("url", "company", "reviews", "extract_error")
            .collect()
        ]
        html = {
            r["url"]: bytes(r["html"])
            for r in spark.read.parquet(str(self.corpus_dir))
            .where(F.col("url").isin([r["url"] for r in rows]))
            .select("url", "html")
            .collect()
        }
        _, bad, row_notes = compare_sampled_rows(rows, html, cfg.nreviews)
        return attempted, failed + bad, notes + row_notes

    # traced layers ---------------------------------------------------------

    def layers(self, spark, pages, out: Outcome, tracer) -> dict:
        """Per-layer figures from the traced crawl's summary and committed
        state, plus the CPU ledger."""
        from ledger import cpu_ledger

        last = out.info["crawls"][-1]
        summary, ckpt, cfg = last["summary"], Path(last["ckpt"]), last["cfg"]
        laps: dict = {}
        for e in summary["epochs"]:
            for k, v in e["steps"].items():
                laps[k] = laps.get(k, 0.0) + v
        m = {f"crawl.engine.{step}_s": laps.get(step, 0.0)
             for step in ("drain", "fetch_extract_write", "expand", "frontier_commit",
                          "sketch_wait")}
        m["crawl.engine.lineage_s"] = laps.get("lineage_concurrent", 0.0)
        m["crawl.engine.epochs"] = len(summary["epochs"])
        m["crawl.engine.new_urls"] = sum(e["new_urls"] for e in summary["epochs"])
        m["crawl.engine.urls_missing"] = sum(e["urls_missing"] for e in summary["epochs"])
        m["crawl.politeness.admit_s"] = self._admit_s(spark, ckpt, cfg, summary, tracer)
        sketch, out.info["sketch_split"] = self._sketch_split(spark, ckpt, cfg, summary, tracer)
        m.update(sketch)
        rows, out.info["ledger"] = cpu_ledger(
            spark, self, pages, ckpt, cfg, [e["epoch"] for e in summary["epochs"]],
            out.info["untraced_cpu_ms_per_page"], tracer,
        )
        m.update(rows)
        return m

    @staticmethod
    def _admit_s(spark, ckpt: Path, cfg, summary: dict, tracer) -> float:
        """``admit_per_host(apply_robots(...))`` on the largest committed
        frontier snapshot, forced with a noop write; median of three."""
        from fakepilot_spark.crawl.frontier import FRONTIER_SCHEMA
        from fakepilot_spark.crawl.politeness import (
            admit_per_host,
            apply_robots,
            politeness_df,
            robots_df,
        )

        e = max(summary["epochs"], key=lambda s: s["pending_after"])["epoch"]
        snapshot = spark.read.schema(FRONTIER_SCHEMA).parquet(str(ckpt / "frontier" / f"epoch={e}"))
        robots, polite = robots_df(spark, cfg.robots_rules), politeness_df(spark, cfg.host_budgets)
        times = []
        for _ in range(3):
            t = time.perf_counter()
            with tracer.span("crawl.politeness", "admit_per_host(apply_robots)"):
                force(admit_per_host(
                    apply_robots(snapshot, robots), polite, cfg.default_budget,
                    robots=robots, epoch_seconds=cfg.epoch_seconds,
                ))
            times.append(time.perf_counter() - t)
        return median(times)

    @staticmethod
    def _sketch_split(spark, ckpt: Path, cfg, summary: dict, tracer) -> tuple:
        """Replays each epoch's prefilter on the committed artifacts: the
        links the epoch extracted, the bloom blob and cuckoo table it probed
        (committed after the previous epoch) and the exact seen set through
        the previous epoch. Returns (metrics, split counts)."""
        import numpy as np
        import pyspark.sql.functions as F

        from fakepilot_spark.crawl.sketches import BloomFilter, CuckooFilter

        P = cfg.cuckoo_partitions
        tot = dict.fromkeys(("links_in", "bloom_new", "cuckoo_new", "residual",
                             "truly_new", "bloom_fp"), 0)
        probe_b, probe_c = [], []
        for e in (s["epoch"] for s in summary["epochs"]):
            sk = ckpt / "sketches" / f"epoch={e - 1}"
            if not (sk / "bloom.bin").exists():
                continue
            links = (
                spark.read.parquet(str(ckpt / "results" / f"epoch={e}"))
                .select(F.explode("links").alias("url"))
                .where(F.col("url").startswith("http"))
                .distinct()
            )
            seen = spark.read.parquet(
                *[str(ckpt / "new" / f"epoch={k}") for k in range(-1, e)]
            ).select("url", F.lit(True).alias("seen"))
            rows = (
                links.join(seen, "url", "left")
                .select(F.xxhash64("url").alias("h"), F.col("seen").isNotNull().alias("seen"))
                .collect()
            )
            if not rows:
                continue
            h = np.array([r["h"] for r in rows], dtype=np.int64).view(np.uint64)
            was_seen = np.array([r["seen"] for r in rows])
            bloom = BloomFilter.from_bytes((sk / "bloom.bin").read_bytes())
            t = time.perf_counter_ns()
            with tracer.span("crawl.sketches", "BloomFilter.contains_many", epoch=e):
                maybe = bloom.contains_many(h)
            probe_b.append((time.perf_counter_ns() - t) / len(h))
            cuckoos = {
                r["pid"]: CuckooFilter.from_bytes(bytes(r["blob"]))
                for r in spark.read.parquet(str(sk / "cuckoo")).collect()
            }
            pid = h.view(np.int64) % P  # numpy % is non-negative, as pmod
            flagged = np.zeros(len(h), dtype=bool)
            cand = np.flatnonzero(maybe)
            t = time.perf_counter_ns()
            with tracer.span("crawl.sketches", "CuckooFilter.contains_many", epoch=e):
                for p, cf in cuckoos.items():
                    idx = cand[pid[cand] == p]
                    if len(idx):
                        flagged[idx] = cf.contains_many(h[idx])
            if len(cand):
                probe_c.append((time.perf_counter_ns() - t) / len(cand))
            tot["links_in"] += len(h)
            tot["bloom_new"] += int((~maybe).sum())
            tot["cuckoo_new"] += int((maybe & ~flagged).sum())
            tot["residual"] += int((flagged & ~was_seen).sum())
            tot["truly_new"] += int((~was_seen).sum())
            tot["bloom_fp"] += int((maybe & ~was_seen).sum())
        n = max(tot["links_in"], 1)
        metrics = {
            "crawl.sketches.links_in": tot["links_in"],
            "crawl.sketches.bloom_new_frac": tot["bloom_new"] / n,
            "crawl.sketches.cuckoo_new_frac": tot["cuckoo_new"] / n,
            "crawl.sketches.residual_rows": tot["residual"],
            "crawl.sketches.bloom_fpr": tot["bloom_fp"] / max(tot["truly_new"], 1),
            "crawl.sketches.bloom_probe_ns_per_url": median(probe_b) if probe_b else 0.0,
            "crawl.sketches.cuckoo_probe_ns_per_url": median(probe_c) if probe_c else 0.0,
        }
        split = {**tot, "bloom_fpp_configured": cfg.bloom_fpp,
                 "bloom_capacity": cfg.bloom_capacity}
        return metrics, split


def _epoch_spans(tracer, summary: dict, start: float, parent) -> None:
    """The engine's own step laps, laid out as child spans of the crawl.
    Steps run in sequence inside an epoch, except lineage, which overlaps
    expand and is left out here."""
    if not tracer.enabled:
        return
    t = start
    for e in summary["epochs"]:
        esid = tracer.add("crawl.engine", f"epoch {e['epoch']}", t, t + e["wall_sec"], parent)
        s = t
        for step, dur in e["steps"].items():
            if step != "lineage_concurrent":
                tracer.add("crawl.engine", step, s, s + dur, esid)
                s += dur
        t += e["wall_sec"]


# -- operator_suite -----------------------------------------------------------------

# The cheapest query of relational and of the modules slated for
# consolidation (staged, staged_next, corpusops, textops). The others are
# left out: their cheapest query costs 0.6-5 s per execution on a 4-core
# host, more than the benchmark's time budget allows per run; extraction is
# measured by crawl_frontier.
QUERIES = (
    "window_top_orders_per_customer",  # relational
    "doc_token_stats",  # textops
    "stratified_sample_sources",  # corpusops
    "doc_pii_scrub",  # staged
    "doc_split_assign",  # staged_next
)


# The committed tables are so small (500 documents, 15000 orders) that a
# query on them is almost all Spark's fixed per-query latency: planning,
# scheduling and hand-offs between threads, on about one busy core. On a
# shared virtual machine that latency moves with the host by half between
# runs. So the suite reads the tables its queries use replicated, each copy's
# key shifted to stay unique, and each query keeps every core busy with the
# program's own work.
SCALE = {"documents": ("doc_id", 60), "orders": ("o_orderkey", 20)}
TABLE_FILES = 8  # parquet files per replicated table: one scan task per file


def scale_tables(src: Path, dst: Path, scale: dict = SCALE) -> None:
    """Writes ``src``'s tables to ``dst``: those in ``scale`` as ``factor``
    copies with the key column shifted by the table's key range per copy,
    split into :data:`TABLE_FILES` files; the others unchanged."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    dst.mkdir(parents=True)
    for f in sorted(src.glob("*.parquet")):
        if f.stem not in scale:
            shutil.copyfile(f, dst / f.name)
            continue
        key, factor = scale[f.stem]
        table = pq.read_table(f)
        i, typ = table.schema.get_field_index(key), table.schema.field(key).type
        span = pc.max(table[key]).as_py() + 1
        table = pa.concat_tables(
            table.set_column(i, key, pc.add(table[key], pa.scalar(k * span, typ)))
            for k in range(factor)
        )
        (dst / f.name).mkdir()
        step = -(-table.num_rows // TABLE_FILES)
        for j in range(TABLE_FILES):
            pq.write_table(table.slice(j * step, step), dst / f.name / f"part-{j}.parquet")


class OperatorSuite:
    name = "operator_suite"

    def __init__(self, work: Path, seed: int):
        self.rng = random.Random(seed)
        self.order = self.shuffled()  # the first pass's order
        tag = hashlib.md5(json.dumps(SCALE, sort_keys=True).encode()).hexdigest()[:10]
        self.data = work / "tables" / f"{self.name}-{tag}" if work else DATA

    def build(self, spark, tracer) -> float:
        """Replicates the committed tables once per checkout; the build is
        the benchmark's, not the program's, so it reports 0."""
        stamp = self.data / "_perfbench_build.json"
        if not stamp.exists():
            shutil.rmtree(self.data, ignore_errors=True)
            scale_tables(DATA, self.data)
            stamp.write_text(json.dumps(SCALE))
        return 0.0

    def open(self, spark, tracer):
        from fakepilot_spark.ops import registry

        with tracer.span("ops", "registry"):
            queries, _ = registry()
        return {name: queries[name] for name in self.order}

    def shuffled(self) -> list:
        """A query order drawn from the seed: each pass has its own, so a
        query's time does not depend on one fixed predecessor."""
        return self.rng.sample(QUERIES, len(QUERIES))

    def _run(self, spark, fn, name, tracer):
        """One query, collected: its result feeds the oracle check."""
        with tracer.span("ops", name):
            return fn(spark, str(self.data)).toPandas()

    warm_passes = 3  # the first set-up's warm-up passes over the queries
    min_passes = 5

    def warm(self, spark, queries, tracer, deep: bool = False) -> None:
        """One query: Python workers up, the tables in the page cache;
        ``deep`` (the first set-up in the JVM) makes ``warm_passes`` passes
        over every query, so that the timed passes run plans Spark has
        planned and the JIT has compiled."""
        if not deep:
            self._run(spark, queries["doc_token_stats"], "doc_token_stats", tracer)
            return
        for _ in range(self.warm_passes):
            for name in self.shuffled():
                self._run(spark, queries[name], name, tracer)

    traced_unit = {"passes": 3}  # a traced run's two units: traced, untraced

    def measure(self, spark, queries, seconds: float, tracer, tag: str = "run",
                passes: int | None = None):
        """Whole passes over the query list, each in its own seeded order:
        ``min_passes`` (or ``passes``), and more until ``seconds`` have
        passed; each figure is a median over passes. The floor is a pass
        count, not a time budget alone, so a slow run still has its medians
        over five passes."""
        out = Outcome()
        samples: dict = {name: [] for name in queries}
        results: dict = {}
        raised: dict = {}
        while True:
            cpu0, t_pass, n = tree_cpu_s(), 0.0, 0
            for name in self.shuffled():
                t0 = time.perf_counter()
                try:
                    results[name] = self._run(spark, queries[name], name, tracer)
                    samples[name].append(time.perf_counter() - t0)
                    n += 1
                except Exception as exc:  # noqa: BLE001 - counted as a failed query
                    raised[name] = f"{name} raised {type(exc).__name__}: {exc}"
                t_pass += time.perf_counter() - t0
            cpu = tree_cpu_s() - cpu0
            out.items += n
            out.wall_s += t_pass
            out.item_rates.append(n / t_pass)
            out.cpu_ms_per_item.append(cpu * 1000 / max(n, 1))
            if len(out.item_rates) >= (passes or self.min_passes) and out.wall_s >= seconds:
                break
        medians = {k: median(v) for k, v in samples.items() if v}
        out.unit_s = sum(medians.values())
        out.info.update(query_medians=medians, samples=samples, raised=raised,
                        results=results, units=sum(len(v) for v in samples.values()))
        return out

    def check(self, spark, out: Outcome) -> tuple:
        """The last result of each query against its DuckDB oracle; a
        mismatch fails every timed execution of that query."""
        from checks import duckdb_connection, query_mismatch
        from fakepilot_spark.ops import registry

        _, oracles = registry()
        attempted = len(out.item_rates) * len(self.order)
        failed = attempted - sum(len(v) for v in out.info["samples"].values())  # raised
        notes = list(out.info["raised"].values())
        con, canon = duckdb_connection(self.data)
        try:
            for name, pdf in out.info.pop("results").items():
                why = query_mismatch(pdf, con.execute(oracles[name]).fetchdf(), canon)
                if why:
                    failed += len(out.info["samples"][name])
                    notes.append(f"{name}: {why} against its DuckDB oracle")
        finally:
            con.close()
        return attempted, failed, notes

    def layers(self, spark, queries, out: Outcome, tracer) -> dict:
        return {f"ops.{k}_s": v for k, v in out.info["query_medians"].items()}


WORKLOADS = {w.name: w for w in (CrawlFrontier, OperatorSuite)}


def profiler_layers(dump_dir: Path) -> dict:
    """Per-page figures from Spark's Python UDF profiler (``perf``), which
    records base file names only."""
    stats = load_profiles(dump_dir)
    if stats is None:
        return {}
    pages, parse = cumulative_s(stats, "htmlmini.py", "parse")
    if not pages:
        return {}
    _, company = cumulative_s(stats, "fields.py", "company_record")
    _, reviews = cumulative_s(stats, "fields.py", "review_records")
    _, links = cumulative_s(stats, "fields.py", "link_hrefs")
    _, batch = cumulative_s(stats, "udfs.py", "_extract_batch")
    per = 1000.0 / pages
    return {
        "htmlmini.parse_ms_per_page": parse * per,
        "extract.fields.company_ms_per_page": company * per,
        "extract.fields.reviews_ms_per_page": reviews * per,
        "extract.fields.links_ms_per_page": links * per,
        "extract.udfs.batch_overhead_ms_per_page": (batch - parse - company - reviews - links) * per,
    }
