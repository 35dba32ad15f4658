"""The benchmark workloads.

Each workload has the same life cycle, driven by ``run.py``:

``prepare``  pure-Python inputs, before Spark starts;
``oracle``   the expected output, computed while the first (cold) set-up
             runs;
``warm``     the warm pass that belongs to set-up;
``stage``    write the inputs where the program reads them (untimed);
``unit``     one unit of work, run back to back in a closed loop;
``check``    compare a unit's output with the oracle; returns the size of
             the symmetric difference in rows (0 = correct);
``layers``   traced runs only: per-layer metrics from extra passes, and
             their oracle difference;
``unit_metrics``  traced runs only: per-layer metrics from the spans of
             the traced unit.
"""

from __future__ import annotations

import contextlib
import io
import multiprocessing
import os
import re
import shutil
import tempfile
from collections import Counter

from perfbench import inputs
from perfbench.trace import Tracer

TRIPLE_COLS = ["subj", "pred", "obj", "url", "sentence_id"]
# metric name -> __spark_entry__ query. graph_ppr (the personalized
# variant of graph_pagerank's code) and web_host_hits are left out to
# keep a sweep short: with all eight, a run on a contended 4-CPU host
# took up to 99 s.
GRAPH_QUERIES = {
    "pagerank": "graph_pagerank",
    "label_prop": "graph_label_prop",
    "cc": "cc_components",
    "kcore": "graph_kcore",
    "bfs": "graph_bfs_dist",
    "bgp_path": "kg_bgp_path",
}
SMOKE_GRAPH_QUERIES = ("cc", "bgp_path")
TINY_TABLES = {"n_orders": 300, "n_part": 100, "n_supp": 20, "n_cust": 50,
               "n_vec": 100, "n_docs": 50}
GRAPH_TABLES = ["lineitem", "orders", "supplier", "customer", "embeddings", "documents"]


def _oracle_chunk(args: tuple) -> set:
    rows, kwargs = args
    from spanmarkerner_spark.oracle import run_oracle
    from spanmarkerner_spark.pipeline import default_config

    return run_oracle(rows, default_config(), **kwargs)["triples"]


def oracle_triples(rows: list[tuple], procs: int, **kwargs) -> set:
    """run_oracle over page chunks in parallel; pages are independent,
    so the union equals one run over all rows."""
    chunks = [(rows[i::procs], kwargs) for i in range(procs)]
    with multiprocessing.get_context("spawn").Pool(procs) as pool:
        return set().union(*pool.map(_oracle_chunk, chunks))


def diff_rows(got: list[tuple], want) -> int:
    """Size of the multiset symmetric difference."""
    g, w = Counter(got), Counter(want)
    return sum(((g - w) + (w - g)).values())


def noop(df, tracer: Tracer, name: str, observe=None) -> float | None:
    """Run df into the noop sink under a span; with observe=(alias,
    expr) also return that aggregate, computed by the same write."""
    from pyspark.sql import Observation

    obs = None
    if observe is not None:
        obs = Observation(name)
        df = df.observe(obs, observe.alias("v"))
    with tracer.span(name):
        df.write.format("noop").mode("overwrite").save()
    return float(obs.get["v"]) if obs is not None else None


class SubmitJob:
    """The spark-submit KG job (scripts/submit_kg.py main) over html
    pages, then the same call again, which must resume with nothing to
    do. kg_batch's traced run runs it once, for the lineage, submit_kg
    and canonicalization layers."""

    n_buckets = 8

    def __init__(self, seed: int, work: str, n_pages: int, procs: int):
        self.seed, self.work, self.n_pages, self.procs = seed, work, n_pages, procs
        self.path = os.path.join(work, "job_pages")

    def prepare(self) -> None:
        from spanmarkerner_spark.datagen import gen_pages

        self.rows = gen_pages(self.n_pages, seed=self.seed)

    def oracle(self) -> None:
        self.expected = oracle_triples(self.rows, self.procs, use_extracted=True,
                                       canonicalize=True, doc_context_window=2)

    def stage(self, spark) -> None:
        from spanmarkerner_spark import schemas
        from spanmarkerner_spark.plans import lineage as L

        spark.createDataFrame(self.rows, schema=schemas.PAGES).write.parquet(self.path)
        pages = spark.read.parquet(self.path)
        self.buckets = (L.with_partition_key(pages, n_buckets=self.n_buckets)
                        .select("partition_key").distinct().count())

    def _main(self, out: str) -> str:
        import submit_kg

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = submit_kg.main([
                "--pages", self.path, "--out", out, "--use-extracted",
                "--canonicalize", "--doc-context-window", "2",
                "--n-buckets", str(self.n_buckets)])
        if rc != 0:
            raise RuntimeError(f"submit_kg.main returned {rc}")
        return buf.getvalue()

    def run(self, spark, tracer: Tracer) -> tuple[dict[str, float], int]:
        """One traced job, its checks and its resume. Returns the
        per-layer metrics and the oracle difference in rows."""
        from pyspark.sql import functions as F
        from spanmarkerner_spark.plans import lineage as L

        out = tempfile.mkdtemp(prefix="kg_out_", dir=self.work)
        undo = [
            tracer.wrap(L, "pending_partitions", "lineage.pending_partitions"),
            tracer.wrap(L, "write_stage",
                        lambda a, kw: f"lineage.write_{a[2] if len(a) > 2 else kw['stage']}"),
            tracer.wrap(L, "read_stage", "lineage.read_stage"),
            tracer.wrap(L, "write_metrics", "lineage.write_metrics"),
            tracer.wrap(type(spark.range(0)), "count", "count"),
        ]
        try:
            with tracer.span("job.main"):
                self._main(out)
        finally:
            for u in reversed(undo):
                u()
        try:
            got = L.read_stage(spark, out, "triples").select(TRIPLE_COLS).collect()
            diff = diff_rows([tuple(r) for r in got], self.expected)
            # one lineage row per input bucket, per stage
            lin = L.read_lineage(spark, out)
            per_stage = {r.stage: (r.k, r.n) for r in lin.groupBy("stage").agg(
                F.countDistinct("partition_key").alias("k"),
                F.count(F.lit(1)).alias("n")).collect()}
            for stage in ("mentions", "triples"):
                k, n = per_stage.get(stage, (0, 0))
                diff += abs(k - self.buckets) + (n - k)
            with tracer.span("job.resume"):
                log = self._main(out)
            if "nothing to do" not in log:
                m = re.search(r"(\d+) pending pages", log)
                diff += int(m.group(1)) if m else self.n_pages
            files = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs]
            n_files, n_bytes = len(files), sum(map(os.path.getsize, files))
            n_rows = lin.count()
        finally:
            shutil.rmtree(out, ignore_errors=True)
        counts = tracer.durations("count")
        return {
            # the resume check is the pending-bucket anti-join and the
            # count main() takes of it; later counts are its metrics
            "lineage.resume_check_s":
                tracer.total("lineage.pending_partitions") + sum(counts[:1]),
            "job.extra_counts_s": sum(counts[1:]),
            "lineage.write_mentions_s": tracer.total("lineage.write_mentions"),
            "lineage.write_triples_s": tracer.total("lineage.write_triples"),
            "lineage.write_metrics_s": tracer.total("lineage.write_metrics"),
            "lineage.resume_run_s": tracer.total("job.resume"),
            "job.main_self_s": tracer.self_time("job.main"),
            "lineage.files_written": float(n_files),
            "lineage.bytes_written": float(n_bytes),
            "lineage.rows": float(n_rows),
            "canon.self_s": self._canon_s(spark, tracer),
        }, diff

    def _canon_s(self, spark, tracer: Tracer) -> float:
        """Canonicalization runs its connected-components jobs while the
        plan is built, so its cost is the extra plan-building time plus
        the extra noop time of the linked frame."""
        from spanmarkerner_spark.pipeline import run_pipeline

        pages = spark.read.parquet(self.path)
        opts = {"use_extracted": True, "doc_context_window": 2}
        with tracer.span("plan.plain"):
            plain = run_pipeline(pages, **opts)
        with tracer.span("plan.canon"):
            canon = run_pipeline(pages, canonicalize=True, **opts)
        noop(plain["linked"], tracer, "job.cum.linked")
        noop(canon["linked"], tracer, "job.cum.canon")
        return (tracer.total("plan.canon") - tracer.total("plan.plain")
                + tracer.total("job.cum.canon") - tracer.total("job.cum.linked"))


class KgBatch:
    """run_pipeline over text pages, triples collected to the Spark
    driver. Its traced run also runs the submit_kg job (SubmitJob)."""

    name = "kg_batch"

    def __init__(self, seed: int, work: str, smoke: bool, procs: int):
        self.seed, self.work, self.procs = seed, work, procs
        self.n_docs, self.n_pages = (20, 50) if smoke else (1500, 600)
        self.job = SubmitJob(seed, work, 50 if smoke else 200, procs)
        self.sentences = 0

    def prepare(self) -> None:
        from spanmarkerner_spark.datagen import gen_pages

        self.rows = inputs.filler_docs(self.n_docs, self.seed) + gen_pages(
            self.n_pages, seed=self.seed)
        self.job.prepare()

    def oracle(self, traced: bool = False) -> None:
        self.expected = oracle_triples(self.rows, self.procs, use_extracted=False)
        if traced:
            self.job.oracle()

    def _run(self, spark):
        from spanmarkerner_spark.pipeline import run_pipeline

        return run_pipeline(self.pages, use_extracted=False, persist_stages=False)

    def stage(self, spark, traced: bool = False) -> None:
        from spanmarkerner_spark import schemas

        path = os.path.join(self.work, "pages")
        spark.createDataFrame(self.rows, schema=schemas.PAGES).write.parquet(path)
        self.pages = spark.read.parquet(path)
        self.sentences = self._run(spark)["sentences"].count()
        if traced:
            self.job.stage(spark)

    def warm(self, spark) -> None:
        """Set-up warm pass: one 50-page pipeline run (Python worker
        spawn, package import, encoder build, codegen)."""
        from spanmarkerner_spark import schemas
        from spanmarkerner_spark.datagen import gen_pages
        from spanmarkerner_spark.pipeline import run_pipeline

        warm = spark.createDataFrame(gen_pages(50, seed=1), schema=schemas.PAGES)
        run_pipeline(warm, use_extracted=False)["triples"].count()

    def unit(self, spark, tracer: Tracer | None = None):
        return self._run(spark)["triples"].select(TRIPLE_COLS).collect()

    def check(self, spark, out, tracer: Tracer | None = None) -> int:
        return diff_rows([tuple(r) for r in out], self.expected)

    def unit_metrics(self, tracer: Tracer) -> dict[str, float]:
        return {}

    def layers(self, spark, tracer: Tracer) -> tuple[dict[str, float], int]:
        from pyspark.sql import functions as F

        res = self._run(spark)
        one = F.count(F.lit(1))
        m = {"ner.sentences": noop(res["sentences"], tracer, "cum.sentences", one)}
        m["ner.mentions"] = noop(res["mentions"], tracer, "cum.mentions", one)
        m["link.linked_mentions"] = noop(
            res["linked"], tracer, "cum.linked", F.count("entity_id"))
        m["relations.triples"] = noop(res["triples"], tracer, "cum.triples", one)
        cum = {k: tracer.total(f"cum.{k}")
               for k in ("sentences", "mentions", "linked", "triples")}
        m["text.segment_cum_s"] = cum["sentences"]
        m["ner.self_s"] = cum["mentions"] - cum["sentences"]
        m["link.self_s"] = cum["linked"] - cum["mentions"]
        m["relations.self_s"] = cum["triples"] - cum["linked"]
        job, diff = self.job.run(spark, tracer)
        m.update(job)
        return m, diff


class GraphIter:
    """One sweep of the graph / components / BGP __spark_entry__ queries over
    seeded TPC-H-style tables, each result collected and compared with
    its DuckDB oracle."""

    name = "graph_iter"
    sentences = 0

    def __init__(self, seed: int, work: str, smoke: bool, procs: int):
        self.seed, self.work, self.smoke = seed, work, smoke
        names = SMOKE_GRAPH_QUERIES if smoke else GRAPH_QUERIES
        self.queries = {k: GRAPH_QUERIES[k] for k in names}
        self.dir = os.path.join(work, "tables")
        self.warm_dir = os.path.join(work, "warm_tables")

    def prepare(self) -> None:
        inputs.tpch_tables(self.dir, self.seed, **(TINY_TABLES if self.smoke else {}))
        inputs.tpch_tables(self.warm_dir, self.seed, **TINY_TABLES)

    def oracle(self, traced: bool = False) -> None:
        import duckdb

        import __spark_entry__ as E

        sql = E.oracle_sql()
        con = duckdb.connect()
        try:
            for t in GRAPH_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(self.dir, t)}.parquet')")
            self.expected = {k: con.execute(sql[q]).df() for k, q in self.queries.items()}
        finally:
            con.close()

    def stage(self, spark, traced: bool = False) -> None:
        pass

    def warm(self, spark) -> None:
        """Set-up warm pass: connected components on tiny tables. There
        is no Python UDF here, so no 50-page pipeline pass."""
        import __spark_entry__ as E

        E.queries()["cc_components"](spark, self.warm_dir).toPandas()

    def unit(self, spark, tracer: Tracer | None = None) -> dict:
        import __spark_entry__ as E

        qs = E.queries()
        if tracer is None:
            return {k: qs[q](spark, self.dir).toPandas() for k, q in self.queries.items()}
        out, sc = {}, spark.sparkContext
        for k, q in self.queries.items():
            sc.setJobGroup(f"perfbench-traced:{k}", q)
            with tracer.span(f"graph.{k}"):
                out[k] = qs[q](spark, self.dir).toPandas()
        sc.setJobGroup("perfbench-traced", "traced unit")
        self.jobs = {k: float(len(sc.statusTracker().getJobIdsForGroup(
            f"perfbench-traced:{k}"))) for k in self.queries}
        return out

    def check(self, spark, out: dict, tracer: Tracer | None = None) -> int:
        """The strict gate of tools/strict_check.py: canonical frames
        with equal rows and equal dtypes."""
        from strict_check import canon

        diff = 0
        for k, want in self.expected.items():
            g, w = canon(out[k]), canon(want)
            d = diff_rows(_csv_rows(g), _csv_rows(w))
            if not d and list(map(str, g.dtypes)) != list(map(str, w.dtypes)):
                d = len(w)
            diff += d
        return diff

    def unit_metrics(self, tracer: Tracer) -> dict[str, float]:
        m = {f"graph.{k}_s": tracer.total(f"graph.{k}") for k in self.queries}
        m.update({f"graph.{k}.spark_jobs": n for k, n in self.jobs.items()})
        return m

    def layers(self, spark, tracer: Tracer) -> tuple[dict[str, float], int]:
        return {}, 0


def _csv_rows(df) -> list[str]:
    """Rows as the CSV lines tools/strict_check.py hashes."""
    return df.to_csv(index=False, header=False).splitlines()


WORKLOADS = {w.name: w for w in (KgBatch, GraphIter)}
