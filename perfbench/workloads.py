"""The benchmark workloads.

Each workload generates its inputs from the seed (``generate``), warms up
untimed and runs its one-shot checks (``warmup``), then runs whole steps
(``step``) until the harness has measured enough operation time. A step
times its operations with ``ctx.timed`` and checks its outputs outside
the timed region; every failed or wrong operation is added to
``ctx.failed``. Calls into the engine's layers are wrapped in
``ctx.tracer.span(name, layer, kind)`` so a traced run can attribute time.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import traceback
from contextlib import nullcontext

import gen

# --------------------------------------------------------------------------
# cva_annual_refresh
# --------------------------------------------------------------------------

FLOWS = 10_000
DIM_SCHEMAS = {
    "isos": "countryname_fts string, iso3 string",
    "orgs": "`sourceObjects_Organization.id` string, source_org_country"
            " string, source_org_iso3 string, FTS_source_orgtype string",
    "deflators": "iso3 string, year int, gdp_defl double",
    "dac_deflators": "year int, gdp_defl double",
    "question_labels": "question string, question_type string",
    "decisions": "id long, accepted boolean",
    "sub_grants": "recipient_name string, Year int, amount double",
    "pc_tv": "Year int, PC_average_used double",
}


def _data_files(path: str) -> list[tuple[str, int, int]]:
    """(path, size, mtime) of the data files under ``path``, skipping the
    writers' ``_SUCCESS`` markers and ``.crc`` checksums."""
    out = []
    for d, _, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                st = os.stat(os.path.join(d, f))
                out.append((os.path.join(d, f), st.st_size, st.st_mtime_ns))
    return sorted(out)


class CvaAnnualRefresh:
    """EP1 → write_partitioned by year → re-read → EP2 → EP3 matcher and
    subgrant removal → outputs to parquet, then one year re-ingested with
    a dynamic partition overwrite. One operation is one whole refresh."""

    row_name = "rows_per_s (raw flow rows)"

    def generate(self, rng, out_dir):
        self.dir = out_dir
        self.exp = gen.fts_inputs(rng, out_dir, FLOWS)
        return {k: self.exp[k] for k in
                ("raw_rows", "raw_bytes", "curated_rows", "reingest_rows")}

    def warmup(self, ctx):
        """None: an annual refresh runs once per process, so its users pay
        the first-run (JIT and code generation) cost every time."""

    def step(self, ctx):
        self._refresh(ctx)
        ctx.failed += 0 if self._check(ctx) else 1

    def _refresh(self, ctx) -> None:
        from pyspark.sql import functions as F

        from calp_cva_tracking_pipeline_spark.functions.text import (
            canonicalize_name,
        )
        from calp_cva_tracking_pipeline_spark.plans.constants import (
            ALL_CASH_TERMS,
            CASH_CLUSTERS,
            COMMON_WORDS,
            FUZZY_VETO,
            MANUAL_ORG_OVERRIDES,
            MANUAL_ORG_PATTERN_OVERRIDES,
            USA_SOURCE_ORGS,
        )
        from calp_cva_tracking_pipeline_spark.plans.matching import (
            match_org_names,
            subtract_subgrants,
        )
        from calp_cva_tracking_pipeline_spark.plans.pipelines import (
            classify_cva,
            curate_flows,
            cva_by_location,
            usa_comparison,
        )
        from calp_cva_tracking_pipeline_spark.plans.projects import (
            build_project_features,
        )
        from calp_cva_tracking_pipeline_spark.sources.files import (
            read_csv,
            write_partitioned,
        )

        spark, d = ctx.spark, self.dir
        out = os.path.join(str(ctx.work), "cva_out")
        self.curated_dir = os.path.join(out, "curated")
        span = ctx.tracer.span

        def write(df, name):
            ctx.outputs.append(df)
            with span(f"write:{name}", "exec", "write"):
                df.write.mode("overwrite").parquet(os.path.join(out, name))

        def write_years(df):
            ctx.outputs.append(df)
            with span("write_partitioned", "sources", "write"):
                write_partitioned(df, self.curated_dir, "year")

        ctx.outputs = []
        with ctx.timed("refresh") as t:
            dims = {}
            for name, schema in DIM_SCHEMAS.items():
                with span("read_csv", "sources", "read"):
                    dims[name] = read_csv(
                        spark, os.path.join(d, "dims", f"{name}.csv"), schema
                    )
            raw = spark.read.parquet(os.path.join(d, "raw"))
            with span("curate_flows", "plans"):
                curated = curate_flows(raw, dims["isos"], dims["orgs"],
                                       dims["deflators"],
                                       dims["dac_deflators"])
            write_years(curated)
            before = _data_files(self.curated_dir)
            curated = spark.read.parquet(self.curated_dir)
            qa = spark.read.parquet(os.path.join(d, "projects_qa"))
            with span("build_project_features", "plans"):
                feats = build_project_features(qa, dims["question_labels"])
            feats = feats.join(
                qa.select(
                    "project_id",
                    F.col("project_objective").alias("project_text"),
                ).dropDuplicates(),
                "project_id",
            )
            with span("classify_cva", "plans"):
                cva = classify_cva(
                    curated, feats, dims["decisions"],
                    cash_clusters=CASH_CLUSTERS, keywords=ALL_CASH_TERMS,
                    common_words=COMMON_WORDS,
                ).cache()
            write(cva, "cva")
            with span("cva_by_location", "plans"):
                by_loc = cva_by_location(cva)
            write(by_loc, "cva_by_location")
            with span("usa_comparison", "plans"):
                comp = usa_comparison(cva, USA_SOURCE_ORGS, year=2023)
            write(comp, "usa_comparison")
            cva_agg = (
                cva.filter(F.col("CVAamount") > 0)
                .groupBy(
                    canonicalize_name(
                        F.col(f"`{gen.DEST_ORG_COL}`")).alias("clean_org"),
                    F.col("year").alias("Year"),
                    "newMoney",
                    F.coalesce(F.col("FTS_source_orgtype"),
                               F.lit("Other")).alias("Org_type"),
                )
                .agg((F.sum("CVAamount") / 1e6).alias("PC.USD.m"))
            )
            with span("match_org_names", "plans"):
                mapping = match_org_names(
                    dims["sub_grants"].select("recipient_name"),
                    cva_agg.select("clean_org"),
                    MANUAL_ORG_OVERRIDES, MANUAL_ORG_PATTERN_OVERRIDES,
                    FUZZY_VETO,
                )
            with span("subtract_subgrants", "plans"):
                undoubled, rollup = subtract_subgrants(
                    cva_agg, dims["sub_grants"], mapping, dims["pc_tv"]
                )
            # the org-type rollup aggregates the undoubled table, as the
            # reference derives cva_agg_org_type from cva_agg
            write(undoubled.cache(), "cva_agg_undoubled")
            write(rollup, "cva_agg_org_type")
            # re-ingest the latest year: only its partition is replaced
            reraw = spark.read.parquet(os.path.join(d, "reingest"))
            with span("curate_flows", "plans"):
                recur = curate_flows(reraw, dims["isos"], dims["orgs"],
                                     dims["deflators"],
                                     dims["dac_deflators"])
            write_years(recur)
        spark.catalog.clearCache()
        after = _data_files(self.curated_dir)
        year = f"year={self.exp['reingest_year']}"
        self.untouched = [x for x in before if year not in x[0]] == [
            x for x in after if year not in x[0]]
        new = [x for x in after if x not in before]
        ctx.files_written += len(before) + len(new)
        ctx.bytes_written += sum(x[1] for x in before) + sum(
            x[1] for x in new)
        ctx.latencies.append(t["elapsed"])
        ctx.rows += self.exp["raw_rows"]

    def _check(self, ctx) -> bool:
        """Σ amountUSD conserved by the equal split and the curated row
        count as predicted, for the full load (EP2 output) and per year
        after the re-ingest; other years' partition files untouched."""
        from pyspark.sql import functions as F

        spark, exp = ctx.spark, self.exp
        cva = spark.read.parquet(os.path.join(str(ctx.work), "cva_out",
                                              "cva"))
        n, total = cva.agg(F.count("*"), F.sum("amountUSD")).first()
        ok = n == exp["curated_rows"] and math.isclose(
            total, sum(exp["per_year_sum"].values()), rel_tol=1e-9)
        got = {
            r[0]: (r[1], r[2])
            for r in spark.read.parquet(self.curated_dir)
            .groupBy("year").agg(F.count("*"), F.sum("amountUSD")).collect()
        }
        y = exp["reingest_year"]
        want = {k: (exp["per_year_rows"][k], exp["per_year_sum"][k])
                for k in exp["per_year_rows"] if k != y}
        want[y] = (exp["reingest_rows"], exp["reingest_sum"])
        ok = ok and set(got) == set(want) and all(
            got[k][0] == want[k][0]
            and math.isclose(got[k][1], want[k][1], rel_tol=1e-9)
            for k in want
        )
        return ok and self.untouched


# --------------------------------------------------------------------------
# catalog_interactive
# --------------------------------------------------------------------------

# Driver-gate queries (the first 50 of __spark_entry__.queries()) that an
# analyst would issue one at a time; each has an oracle_sql() twin. An odd
# count puts the run's median latency inside one query's cluster instead of
# on the edge between two.
CATALOG_QUERIES = [
    "f1_filter_neq", "x1_equal_split_explode", "cc3_amount_cascade",
    "ep2_cva_by_location", "tx_features", "st_sessionize", "ev_funnel",
]
REQUESTS = 200
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(cols, rows):
    def fmt(v):
        return "%.9g" % v if isinstance(v, float) else repr(v)

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            sorted(tuple(fmt(r[i]) for i in order) for r in rows))


class CatalogInteractive:
    """Analysts issuing catalog queries one at a time against sf0.01-sized
    tables, each to a noop sink. One operation is one query. The request
    sequence is a seeded series of permutations of the query list, and a
    step runs one whole permutation so every run has the same mix."""

    row_name = "queries_per_s"

    def generate(self, rng, out_dir):
        self.dir = out_dir
        info = gen.catalog_tables(rng, out_dir)
        n_perm = math.ceil(REQUESTS / len(CATALOG_QUERIES))
        self.sequence = [
            [CATALOG_QUERIES[i] for i in rng.permutation(len(CATALOG_QUERIES))]
            for _ in range(n_perm)
        ]
        self.next = 0
        return {**info, "requests": n_perm * len(CATALOG_QUERIES),
                "distinct_queries": len(CATALOG_QUERIES)}

    def warmup(self, ctx):
        """First call of every query (2-4x slower than later ones) doubles
        as the once-per-run oracle check: collect vs DuckDB. One untimed
        permutation then warms the measured noop-sink path."""
        import duckdb

        import __spark_entry__ as entry

        fns, oracles = entry.queries(), entry.oracle_sql()
        self.fns = {q: fns[q] for q in CATALOG_QUERIES}
        con = duckdb.connect()
        con.execute("SET threads TO 1")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{self.dir}/{t}.parquet')")
        self.wrong = set()
        for q in CATALOG_QUERIES:
            try:
                df = self.fns[q](ctx.spark, self.dir)
                got = _canon(df.columns, [tuple(r) for r in df.collect()])
                cur = con.execute(oracles[q])
                want = _canon([c[0] for c in cur.description],
                              cur.fetchall())
                if got != want:
                    self.wrong.add(q)
            except Exception:
                traceback.print_exc()  # into the driver log
                self.wrong.add(q)
        con.close()
        for q in CATALOG_QUERIES:
            self.fns[q](ctx.spark, self.dir).write.format("noop").mode(
                "overwrite").save()

    def step(self, ctx):
        perm = self.sequence[self.next % len(self.sequence)]
        self.next += 1
        ctx.outputs = []
        for q in perm:
            try:
                with ctx.timed(q) as t:
                    with ctx.tracer.span(q, "catalog", "build"):
                        df = self.fns[q](ctx.spark, self.dir)
                    ctx.outputs.append(df)
                    with ctx.tracer.span(f"noop:{q}", "catalog", "action"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception:
                traceback.print_exc()  # into the driver log
                ctx.errors += 1
                continue
            ctx.latencies.append(t["elapsed"])
            ctx.failed += q in self.wrong
            ctx.rows += 1


# --------------------------------------------------------------------------
# events_stream
# --------------------------------------------------------------------------

STREAM_FILES = 64
EVENTS_PER_FILE = 250


class EventsStream:
    """A 64-file event backlog drained with availableNow through
    stream_events (windowed counts), dedup_stream and sessionize, one
    One operation is one microbatch; a step is one
    full drain of the backlog by all three queries, started together."""

    row_name = "events_per_s"

    def generate(self, rng, out_dir):
        self.src = os.path.join(out_dir, "events")
        self.info = gen.event_backlog(rng, self.src, STREAM_FILES,
                                      EVENTS_PER_FILE)
        self.drains = 0
        return self.info

    def warmup(self, ctx):
        from calp_cva_tracking_pipeline_spark.streaming.events import (
            windowed_agg,
        )

        static = ctx.spark.read.parquet(self.src)
        self.schema = static.schema
        self.expected = _rows(windowed_agg(static).collect())
        self._drain(ctx, timed=False)

    def step(self, ctx):
        self._drain(ctx, timed=True)

    def _drain(self, ctx, timed: bool):
        from calp_cva_tracking_pipeline_spark.streaming.events import (
            dedup_stream,
            sessionize,
            stream_events,
        )

        spark = ctx.spark
        k = self.drains
        self.drains += 1
        ckpt = os.path.join(str(ctx.work), "ckpt", str(k))

        def events():
            return (spark.readStream.schema(self.schema)
                    .option("maxFilesPerTrigger", 16).parquet(self.src))

        plans = [
            ("windowed", "complete",
             lambda: stream_events(spark, self.src, self.schema),
             "stream_events"),
            ("dedup", "append", lambda: dedup_stream(events()),
             "dedup_stream"),
            ("sessions", "append",
             lambda: sessionize(events().withWatermark("ts", "2 hours")),
             "sessionize"),
        ]
        queries = []
        region = ctx.timed("drain") if timed else nullcontext({})
        with region:
            for name, mode, build, fn in plans:
                with ctx.tracer.span(fn, "streaming", "build"):
                    df = build()
                with ctx.tracer.span(f"start:{fn}", "streaming", "action"):
                    queries.append(
                        df.writeStream.format("memory")
                        .queryName(f"{name}_{k}").outputMode(mode)
                        .option("checkpointLocation",
                                os.path.join(ckpt, name))
                        .trigger(availableNow=True).start()
                    )
            with ctx.tracer.span("await_all", "streaming", "action"):
                for q in queries:
                    q.awaitTermination()
        progress = [p for q in queries for p in q.recentProgress]
        got = _rows(spark.sql(f"SELECT * FROM windowed_{k}").collect())
        n, d = spark.sql(f"SELECT count(*), count(DISTINCT event_id) "
                         f"FROM dedup_{k}").first()
        ok = got == self.expected and n == d == self.info["distinct_ids"]
        for q in queries:
            spark.catalog.dropTempView(q.name)
        shutil.rmtree(ckpt, ignore_errors=True)
        if timed:
            lat = [p.durationMs["triggerExecution"] / 1000.0
                   for p in progress]
            ctx.latencies += lat
            ctx.failed += 0 if ok else len(lat)
            ctx.rows += sum(p.numInputRows for p in progress)
            ctx.progress += progress


def _rows(rows) -> dict:
    return {(r["window_start"], r["event_type"]):
            (r["n_events"], r["total_value"]) for r in rows}


def streaming_metrics(progress: list) -> dict:
    """Per-microbatch medians from StreamingQuery.recentProgress."""

    def med(key):
        return float(statistics.median(
            p.durationMs.get(key, 0) for p in progress))

    state = [
        (sum(s.numRowsTotal for s in p.stateOperators),
         sum(s.memoryUsedBytes for s in p.stateOperators))
        for p in progress
    ]
    return {
        "streaming.trigger_ms": (med("triggerExecution"), "ms"),
        "streaming.add_batch_ms": (med("addBatch"), "ms"),
        "streaming.query_planning_ms": (med("queryPlanning"), "ms"),
        "streaming.wal_commit_ms": (med("walCommit"), "ms"),
        "streaming.state_rows": (max(s[0] for s in state), "count"),
        "streaming.state_mem_bytes": (max(s[1] for s in state), "bytes"),
    }


# --------------------------------------------------------------------------
# corpus_release
# --------------------------------------------------------------------------

DOCS = 2000
SHARDS = 8


class CorpusRelease:
    """curate_corpus(benchmark=…) → corpus_release_report →
    shuffle_corpus → write_training_shards. One operation is one
    release."""

    row_name = "rows_per_s (raw documents)"

    def generate(self, rng, out_dir):
        self.dir = out_dir
        self.exp = gen.corpus(rng, out_dir, DOCS)
        return {"docs": self.exp["docs"], "bytes": self.exp["bytes"],
                "planted_exact_dups": len(self.exp["exact_dup_ids"])}

    def warmup(self, ctx):
        self._release(ctx, timed=False)

    def step(self, ctx):
        self._release(ctx, timed=True)

    def _release(self, ctx, timed: bool):
        from calp_cva_tracking_pipeline_spark.plans.corpus import (
            corpus_release_report,
            curate_corpus,
            shuffle_corpus,
            write_training_shards,
        )

        spark = ctx.spark
        shards = os.path.join(str(ctx.work), "shards")
        docs = spark.read.parquet(os.path.join(self.dir, "docs"))
        bench = spark.read.parquet(os.path.join(self.dir, "benchmark"))
        ctx.outputs = []
        region = ctx.timed("release") if timed else nullcontext({})
        with region as t:
            with ctx.tracer.span("curate_corpus", "plans"):
                cur = curate_corpus(docs, benchmark=bench,
                                    bench_text_col="text")
            with ctx.tracer.span("corpus_release_report", "plans"):
                report = corpus_release_report(docs)
            with ctx.tracer.span("action:corpus_release_report", "exec", "action"):
                rep = report.collect()
            with ctx.tracer.span("shuffle_corpus", "plans"):
                shuffled = shuffle_corpus(cur, seed=ctx.seed)
            ctx.outputs += [report, shuffled]
            with ctx.tracer.span("write_training_shards", "plans", "write"):
                write_training_shards(shuffled, shards, SHARDS)
        kept = {r[0] for r in spark.read.parquet(shards)
                .select("doc_id").collect()}
        ok = all(r["n_raw"] == r["n_gate_drop"] + r["n_exact_drop"]
                 + r["n_neardup_drop"] + r["n_kept"] for r in rep)
        ok = ok and sum(r["n_raw"] for r in rep) == self.exp["docs"]
        ok = ok and not kept & set(self.exp["exact_dup_ids"])
        spark.catalog.clearCache()
        if timed:
            ctx.latencies.append(t["elapsed"])
            ctx.rows += self.exp["docs"]
            ctx.failed += 0 if ok else 1
            files = _data_files(shards)
            ctx.files_written += len(files)
            ctx.bytes_written += sum(x[1] for x in files)


WORKLOADS = {
    "cva_annual_refresh": CvaAnnualRefresh,
    "catalog_interactive": CatalogInteractive,
    "events_stream": EventsStream,
    "corpus_release": CorpusRelease,
}
