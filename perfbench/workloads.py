"""The two workloads: `crawl` (CrawlDriver rounds over the seeded HTML
web) and `serve` (SearchService incremental refresh, console queries
and catalog leaves over a seeded docs store).

A workload has set-up (its seeded inputs, the engine objects and the
engine seeding the workload's state, built BUILDS times into fresh
stores; the median build is setup_s), a stream of timed operations
(`ops`), correctness checks run outside the timed region, and, in the
traced run, module probes that re-run the lazy operator builders over
the last timed operation's inputs.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F, types as T

from searchengine_spark.functions.spans import SPANS_TYPE


@dataclass
class Op:
    kind: str
    wall_s: float
    proc_cpu_s: float  # the whole process tree (JIT and GC included)
    exec_cpu_s: float  # the operation's stages' executorCpuTime
    py_cpu_s: float  # the Python workers (pandas / Arrow UDFs)
    items: int
    ok: bool
    jobs: list = field(default_factory=list)
    span: int | None = None

    @property
    def cpu_s(self) -> float:
        return self.exec_cpu_s + self.py_cpu_s


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tool(name: str):
    """A module of tools/ (check_correctness for its row normalization,
    plan_audit for its plan-node patterns)."""
    import importlib
    import sys

    tools = os.path.join(ROOT, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    return importlib.import_module(name)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


STORE_METHODS = ["commit", "compact", "commit_manifest", "read"]


def timed_action(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# crawl
# ---------------------------------------------------------------------------

class CrawlWorkload:
    """CrawlDriver.seed (set-up) + run_round over perfbench.web with the
    bloom seen filter. Per-page work (span extraction, candidate
    normalization, the seen probe, the O(frontier) frontier rewrite)
    and the per-round fixed cost (jobs, commit pool, manifest) both
    show here."""

    name = "crawl"
    # set-up builds: one. The seed's first run in a JVM costs ~20 s of
    # wall and each further one ~7 s; building once keeps a crawl run
    # near a minute, and the cold seed's CPU is steady on its own.
    BUILDS = 1
    N_PAGES = 1_000_000
    N_HOSTS = 1000
    N_SHARDS = 16
    QUOTA = 30  # 16 x 30 = 480 pages per round at most

    def __init__(self, run, build: int):
        from searchengine_spark.config import CrawlConfig

        from perfbench.web import Web

        self.run = run
        self.root = os.path.join(run.workdir, f"crawl-store-{build}")
        self.web = Web(run.seed, self.N_PAGES, self.N_HOSTS)
        self.cfg = CrawlConfig(
            n_shards=self.N_SHARDS,
            per_shard_quota=self.QUOTA,
            shard_salt=f"s{run.seed}",
            use_bloom=True,
            seen_filter="bloom",
            bloom_bits_per_shard=1 << 17,
        )
        self.driver = None
        self.rounds: list = []  # (round_no, RoundStats, manifest versions before the round)

    def setup(self, tracer=None) -> None:
        from searchengine_spark.plans.crawl import CrawlDriver

        from perfbench.web import HtmlWebAdapter

        self.driver = CrawlDriver(self.run.spark, self.root, self.cfg, adapter=HtmlWebAdapter(self.web))
        if tracer is not None:
            tracer.wrap(self.driver, ["seed", "run_round"], "plans.crawl", "crawl")
            tracer.wrap(self.driver.store, STORE_METHODS, "sources.statestore", "store")
        self.driver.seed(self.web.seed_urls())

    def ops(self):
        """Rounds; the run may stop after any round."""
        r = 0
        while True:
            before = self.driver.store.read_manifest()["versions"]

            def one_round(r=r, before=before):
                self.rounds.append((r, self.driver.run_round(r), before))

            yield "round", one_round, lambda: self.rounds[-1][1].fetched_ok, True
            r += 1

    def check(self, ledger) -> None:
        from searchengine_spark.functions.spans import extract_spans_py

        store = self.driver.store
        pinned = store.read_manifest()["versions"]
        docs = store.read("docs", pinned["docs"])
        seen = store.read("seen", pinned["seen"])
        timed = {r for r, _s, _b in self.rounds}
        # a round's counters against the stored state: the URLs that left
        # the frontier are its docs, and its failed fetches are back in
        # the frontier as retries discovered for the next round
        afters = [b for _r, _s, b in self.rounds[1:]] + [pinned]
        for (r, st, before), after in zip(self.rounds, afters):
            f0 = store.read("frontier", before["frontier"]).select("url_md5")
            f1 = store.read("frontier", after["frontier"])
            left = {row[0] for row in f0.join(f1, "url_md5", "left_anti").collect()}
            fetched = {row[0] for row in docs.where(F.col("round") == r).select("url_md5").collect()}
            retried = [
                row[0]
                for row in f1.where(F.col("discovered_round") == r + 1)
                .join(f0, "url_md5", "left_semi")
                .select("url")
                .collect()
            ]
            ledger.check(left == fetched, f"round {r}: the URLs that left the frontier are its docs")
            ledger.check(
                all(self.web.fails_py(u, r) for u in retried),
                f"round {r}: every retried URL is a failed fetch of the web",
            )
            ledger.check(
                len(fetched) + len(retried) == st.scheduled and len(retried) == st.fetch_failed,
                f"round {r}: docs ({len(fetched)}) + retried ({len(retried)}) = scheduled"
                f" ({st.scheduled}); retried = fetch_failed ({st.fetch_failed})",
            )
        for name, df in (("docs", docs), ("seen", seen)):
            rows, keys = df.agg(F.count("*"), F.countDistinct("url_md5")).first()
            ledger.check(rows == keys, f"no url_md5 twice in {name} ({rows} rows, {keys} keys)")
        # span-sequence equality on a 1/4 sample of the timed rounds' pages
        sample = (
            docs.where(
                F.col("round").isin(sorted(timed))
                & F.substring("url_md5", 1, 1).isin("0", "1", "2", "3")
            )
            .select("url", "host", "round", "spans")
            .collect()
        )
        bad = 0
        for row in sample:
            want = extract_spans_py(self.web.html_py(row["url"], row["host"]))
            got = [s.asDict() for s in row["spans"]]
            if got != want or self.web.fails_py(row["url"], row["round"]):
                bad += 1
        ledger.check(
            bool(sample) and bad == 0,
            f"span-sequence equality vs extract_spans_py(html_py(url)): {bad} of {len(sample)} differ",
        )

    # -- traced run: kernels re-run over the last timed round's inputs ----------

    def probes(self) -> dict:
        from searchengine_spark.functions.spans import extract_spans_udf, resolve_href_expr
        from searchengine_spark.operators.frontier import (
            admit_host_caps,
            dedup_batch,
            normalize_candidates,
            schedule_round,
        )
        from searchengine_spark.operators.seen import (
            bloom_prefilter,
            build_filter_blocks,
            dedup_seen_with_filter,
            merge_filter_blocks,
        )

        spark, cfg, store = self.run.spark, self.cfg, self.driver.store
        r, st, before = self.rounds[-1]
        frontier = store.read("frontier", before["frontier"]).drop("storage_bucket")
        hosts = store.read("hosts", before["hosts"])
        seen = store.read("seen", before["seen"])
        blocks = store.read("bloom", before["bloom"]).cache()
        blocks.count()
        out: dict = {}
        handles: list = []

        out["frontier.schedule_s"] = timed_action(
            lambda: schedule_round(
                frontier, hosts.select("host", "next_allowed_round"), r, cfg, cache_handles=handles
            ).count()
        )
        for h in handles:
            h.unpersist()

        pages = (
            store.read("docs", self.driver.store.read_manifest()["versions"]["docs"])
            .where(F.col("round") == r)
            .select("url", "host", "spans")
            .cache()
        )
        n_pages = pages.count()
        html = pages.select(self.web.html_expr(F.col("url"), F.col("host")).alias("html")).cache()
        html.count()
        with_udf = timed_action(
            lambda: html.select(F.sum(F.size(extract_spans_udf(F.col("html"))))).collect()
        )
        without = timed_action(lambda: html.select(F.sum(F.length("html"))).collect())
        out["spans.extract_s"] = max(with_udf - without, 0.0)
        out["spans.extract_us_per_page"] = 1e6 * out["spans.extract_s"] / max(n_pages, 1)
        html.unpersist()

        hrefs = F.filter(
            F.transform(
                F.filter("spans", lambda s: s["kind"] == F.lit("link")),
                lambda s: resolve_href_expr(F.col("url"), s["media_ref"]),
            ),
            lambda u: u.isNotNull(),
        )
        raw = pages.select(F.explode(hrefs).alias("raw_url")).cache()
        n_raw = raw.count()
        with_norm = timed_action(
            lambda: normalize_candidates(raw, cfg).agg(F.count("url_md5")).collect()
        )
        base = timed_action(lambda: raw.agg(F.count("raw_url")).collect())
        out["urls.normalize_s"] = max(with_norm - base, 0.0)
        out["urls.normalize_us_per_url"] = 1e6 * out["urls.normalize_s"] / max(n_raw, 1)

        cand = normalize_candidates(raw, cfg).cache()
        n_cand = cand.count()
        remaining = hosts.select(
            "host", (F.lit(cfg.max_urls_per_host) - F.col("url_count")).alias("_rem")
        )
        out["frontier.admit_s"] = timed_action(
            lambda: admit_host_caps(cand, remaining, cfg.max_urls_per_host, n_candidates=n_cand).count()
        )
        out["frontier.dedup_batch_s"] = timed_action(lambda: dedup_batch(cand).count())
        deduped = dedup_batch(cand).cache()
        n_probed = deduped.count()
        out["seen.probe_s"] = timed_action(
            lambda: dedup_seen_with_filter(spark, deduped, seen, blocks, cfg).count()
        )
        survivors = bloom_prefilter(spark, deduped, blocks, cfg).where("maybe_seen").count()
        out["seen.prefilter_pass_ratio"] = survivors / max(n_probed, 1)
        new_keys = (
            dedup_seen_with_filter(spark, deduped, seen, blocks, cfg)
            .select("url_md5", "shard")
            .cache()
        )
        new_keys.count()
        delta = build_filter_blocks(new_keys, cfg).cache()
        delta.count()
        out["seen.merge_s"] = timed_action(lambda: merge_filter_blocks(blocks, delta, cfg).count())
        out["seen.filter_mb"] = dir_bytes(store.snapshot_path("bloom", before["bloom"])) / 1e6
        for df in (pages, raw, cand, deduped, new_keys, delta, blocks):
            df.unpersist()
        return out

    def funnel(self) -> dict:
        sched = sum(s.scheduled for _r, s, _b in self.rounds)
        ok = sum(s.fetched_ok for _r, s, _b in self.rounds)
        cand = sum(s.candidates for _r, s, _b in self.rounds)
        adm = sum(s.admitted for _r, s, _b in self.rounds)
        new = sum(s.new_urls for _r, s, _b in self.rounds)
        return {
            "crawl.pages_per_round": ok / max(len(self.rounds), 1),
            "crawl.fetch_ok_ratio": ok / max(sched, 1),
            "crawl.admit_ratio": adm / max(cand, 1),
            "crawl.new_ratio": new / max(adm, 1),
        }

    def probe_base(self, ops, _probe: str) -> float:
        """Wall of the operation the probes re-ran: the last round."""
        return [o.wall_s for o in ops if o.kind == "round" and o.ok][-1]

    def leaf_exchanges(self) -> int:
        return 0

    def doc_rows(self) -> int:
        pinned = self.driver.store.read_manifest()["versions"]
        return self.driver.store.read("docs", pinned["docs"]).count()

    def store_root(self) -> str:
        return self.driver.store.root


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("url_md5", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("shard", T.IntegerType()),
        T.StructField("round", T.IntegerType()),
        T.StructField("seq_in_round", T.IntegerType()),
        T.StructField("spans", SPANS_TYPE),
    ]
)


class ServeWorkload:
    """SearchService over a seeded docs store. Set-up commits two crawl
    rounds of docs (95% + 5%, the second carrying a fresh term) through
    TableStore.commit / commit_manifest. The operations are what a cold
    run_search.py session does: build the index with refresh(), then a
    single closed-loop client sends a fresh-term search and two catalog
    leaves (queries.QUERIES): bm25_topk and frontier_dedup_cuckoo, the
    cuckoo seen filter. None of the crawl code runs."""

    name = "serve"
    BUILDS = 3  # set-up builds; setup_s is their median
    CYCLE = 3  # requests between stopping points: the whole mix
    N_DOCS = 1200
    N_HOSTS = 1000
    N_CATALOG_DOCS = 1000

    def __init__(self, run, build: int):
        from perfbench.docsgen import ServeCorpus

        self.run = run
        self.corpus = ServeCorpus(run.seed, self.N_DOCS, self.N_HOSTS)
        self.store = None
        self.svc = None
        self.catalog_dir = os.path.join(run.workdir, f"catalog-{build}")
        self.store_dir = os.path.join(run.workdir, f"serve-store-{build}")
        self.results: list = []  # (Query, rows, DataFrame)

    def setup(self, tracer=None) -> None:
        import pyarrow.parquet as pq

        from searchengine_spark.plans.index_pipeline import SearchService
        from searchengine_spark.sources.statestore import TableStore

        from perfbench.docsgen import catalog_documents

        os.makedirs(self.catalog_dir, exist_ok=True)
        pq.write_table(
            catalog_documents(self.run.seed, self.N_CATALOG_DOCS),
            os.path.join(self.catalog_dir, "documents.parquet"),
        )
        self.store = TableStore(self.run.spark, self.store_dir)
        self.svc = SearchService(self.store)
        if tracer is not None:
            tracer.wrap(self.svc, ["refresh", "search"], "plans.index_pipeline", "serve")
            tracer.wrap(self.store, STORE_METHODS, "sources.statestore", "store")
        # the docs store: two crawl rounds, committed as a crawl would
        for rnd in (0, 1):
            df = self.run.spark.createDataFrame(self.corpus.rows(rnd), DOCS_SCHEMA)
            v = self.store.commit("docs", df, mode="append" if rnd else "overwrite", meta={"round": rnd})
            self.store.commit_manifest(rnd, {"docs": v})

    def _request(self, q):
        from searchengine_spark.queries import QUERIES

        from perfbench.docsgen import K

        tracer = self.run.tracer
        if q.kind == "leaf":
            build = lambda: QUERIES[q.q](self.run.spark, self.catalog_dir)  # noqa: E731
            module = "queries"
        else:
            build = lambda: self.svc.search(q.q, k=K)  # noqa: E731
            module = "plans.index_pipeline"
        if tracer is None:
            df = build()
            return df, df.collect()
        with tracer.span(f"{q.kind}.plan", module, arg=q.q):
            df = build()
        with tracer.span(f"{q.kind}.exec", module, arg=q.q):
            rows = df.collect()
        return df, rows

    def ops(self):
        """The index build, then requests in the mix's order; the run may
        stop only after every CYCLE-th request, so each run has the same
        composition."""
        yield "refresh", self.svc.refresh, lambda: 0, False
        i = 0
        while True:
            for q in self.corpus.queries:

                def request(q=q):
                    df, rows = self._request(q)
                    self.results.append((q, rows, df))

                i += 1
                yield q.kind, request, lambda: 1, i % self.CYCLE == 0

    def check(self, ledger) -> None:
        from perfbench.docsgen import K

        by_md5 = self.corpus.by_md5()
        checked: set = set()
        for q, rows, df in self.results:
            if (q.kind, q.q) in checked:
                continue
            checked.add((q.kind, q.q))
            if q.kind == "leaf":
                self._check_leaf(ledger, q.q, df.columns, rows)
                continue
            ids = [r["doc_id"] for r in rows]
            want = self.corpus.matching(q.q)
            ledger.check(len(ids) <= K and set(ids) <= want,
                         f"search {q.q!r}: at most k hits, each contains the query ({len(ids)} hits)")
            ledger.check(bool(ids) == bool(want), f"search {q.q!r}: hits iff matches exist")
            hosts = [by_md5[i].host for i in ids]
            ledger.check(len(set(hosts)) == len(hosts), f"search {q.q!r}: host-merged")
            if q.fresh:
                ledger.check(all(by_md5[i].round == 1 for i in ids) and ids,
                             "fresh term: found, and only in the second round's docs")

    def _check_leaf(self, ledger, name: str, cols: list, rows: list) -> None:
        """The tools/check_correctness.py method: the leaf's DuckDB
        oracle_sql twin over the same parquet, compared after sorting
        columns by name and rows by value (floats to 3 dp)."""
        import duckdb

        from searchengine_spark.queries import ORACLE_SQL

        con = duckdb.connect()
        try:
            spill = os.path.join(self.run.workdir, "duckdb")
            con.execute(f"SET memory_limit='1GB'; SET threads=2; SET temp_directory='{spill}';")
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(self.catalog_dir, 'documents.parquet')}')"
            )
            res = con.execute(ORACLE_SQL[name])
            dcols, drows = [d[0] for d in res.description], res.fetchall()
        finally:
            con.close()
        norm_rows = _tool("check_correctness").norm_rows
        sc, sr = norm_rows(cols, [tuple(r) for r in rows])
        dc, dr = norm_rows(dcols, drows)
        ledger.check(sc == dc and sr == dr and len(sr) > 0,
                     f"leaf {name}: Spark equals its DuckDB twin ({len(sr)} vs {len(dr)} rows)")

    # -- traced run ---------------------------------------------------------------

    def probes(self) -> dict:
        from searchengine_spark.operators.anchors import anchor_contributions, merge_anchor_contributions
        from searchengine_spark.operators.index import build_weighted_postings
        from searchengine_spark.operators.pagerank import edges_from_links, link_pairs, pagerank
        from searchengine_spark.plans.index_pipeline import PAGERANK_ITERS, doc_sections

        pinned = self.store.read_manifest()["versions"]
        docs = self.store.read("docs", pinned["docs"]).cache()
        docs.count()
        out = {
            "index.postings_build_s": timed_action(
                lambda: build_weighted_postings(
                    doc_sections(docs), blocks_col="blocks", components=True
                ).count()
            )
        }

        def ranks():
            edges = edges_from_links(link_pairs(docs), docs)
            nodes = docs.select(F.col("url_md5").alias("node")).distinct()
            pagerank(edges, nodes, n_iter=PAGERANK_ITERS).count()

        out["pagerank.s"] = timed_action(ranks)
        out["anchors.build_s"] = timed_action(
            lambda: merge_anchor_contributions(
                anchor_contributions(
                    docs.select(F.col("url_md5").alias("doc_id"), "url", "spans"), direction="both"
                )
            ).count()
        )
        docs.unpersist()
        out.update(self._cuckoo_probes())
        return out

    def _cuckoo_probes(self) -> dict:
        """The frontier_dedup_cuckoo leaf's seen-filter steps over its own
        inputs: probe (dedup against the cuckoo blocks), the prefilter's
        pass ratio, merging a delta of the new keys into the blocks, and
        the blocks' size."""
        import dataclasses

        from searchengine_spark import queries as Q
        from searchengine_spark.operators import cuckoo as CK
        from searchengine_spark.operators.frontier import dedup_batch, normalize_candidates

        spark = self.run.spark
        cfg = dataclasses.replace(Q.QCFG, seen_filter="cuckoo", cuckoo_buckets_per_shard=32)
        cand = dedup_batch(Q._candidates_df(spark, self.catalog_dir)).cache()
        n_probed = cand.count()
        seen_keys = normalize_candidates(
            Q._docs(spark, self.catalog_dir)
            .where(F.col("doc_id") % 3 == 0)
            .select(Q.raw_url_expr("doc_id").alias("raw_url")),
            Q.QCFG,
        ).select("url_md5", "shard").cache()
        seen_keys.count()
        blocks = CK.build_cuckoo_blocks(seen_keys, cfg).cache()
        blocks.count()
        out = {
            "seen.probe_s": timed_action(
                lambda: CK.dedup_seen_with_cuckoo(spark, cand, seen_keys, blocks, cfg).count()
            )
        }
        survivors = CK.cuckoo_prefilter(spark, cand, blocks, cfg).where("maybe_seen").count()
        out["seen.prefilter_pass_ratio"] = survivors / max(n_probed, 1)
        new_keys = CK.dedup_seen_with_cuckoo(spark, cand, seen_keys, blocks, cfg).select("url_md5", "shard")
        delta = CK.build_cuckoo_blocks(new_keys, cfg).cache()
        delta.count()
        out["seen.merge_s"] = timed_action(lambda: CK.merge_cuckoo_blocks(blocks, delta, cfg).count())
        out["seen.filter_mb"] = blocks.agg(F.sum(F.length("slots") + F.length("stash"))).first()[0] / 1e6
        for df in (cand, seen_keys, blocks, delta):
            df.unpersist()
        return out

    def funnel(self) -> dict:
        return {}

    def probe_base(self, ops, probe: str) -> float:
        """Wall of the operation the probe re-ran: the cuckoo leaf for the
        seen filter, the index build for the rest."""
        if probe.startswith("seen."):
            return [o.wall_s for o in ops if o.kind == "leaf" and o.ok][-1]  # the mix ends with it
        return [o.wall_s for o in ops if o.kind == "refresh"][0]

    def leaf_exchanges(self) -> int:
        """Shuffle Exchange nodes in the leaves' final AQE plans, counted
        with tools/plan_audit.py's pattern (reused exchanges not counted)."""
        audit_plan = _tool("plan_audit").audit_plan
        n, seen = 0, set()
        for q, _rows, df in self.results:
            if q.kind != "leaf" or q.q in seen:
                continue
            seen.add(q.q)
            plan = df._jdf.queryExecution().executedPlan()
            if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
                plan = plan.executedPlan()  # the final plan, after re-optimization
            n += audit_plan(plan.toString())["exchanges"]
        return n

    def doc_rows(self) -> int:
        return len(self.corpus.docs)

    def store_root(self) -> str:
        return self.store.root


WORKLOADS = {w.name: w for w in (CrawlWorkload, ServeWorkload)}
