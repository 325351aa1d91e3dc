"""The four benchmark workloads.

Each workload prepares its inputs in its constructor and ``setup``
(which ends with an untimed warm-up) and hands the harness passes of ops.
An op is one closed-loop request; ``run`` times nothing itself but
wraps its steps in ``ctx.phase`` so the harness can tag the Spark jobs
of each step and time it, and returns what ``check`` needs.  Checks run
outside the timed span.
"""

from __future__ import annotations

import os
import re
from datetime import date, datetime, timedelta, timezone

import numpy as np
import pyarrow.parquet as pq

import datagen
from tools.check_oracle import table_hash
from tracing import du

# Inputs per workload and size.  "full" is what BENCHMARK.json runs;
# "tiny" is the smoke test's.
SIZES = {
    "gold_queries": {"full": {"sf": 0.1}, "tiny": {"sf": 0.001}},
    "curation_batch": {"full": {"sf": 0.016}, "tiny": {"sf": 0.002}},
    "daily_refresh": {
        "full": {"sf": 0.01, "rows_per_day": 240},
        "tiny": {"sf": 0.001, "rows_per_day": 40},
    },
    "ann_serve": {
        "full": {"vectors": 8_000, "batch": 16},
        "tiny": {"vectors": 2_000, "batch": 16},
    },
}

GOLD_QUERIES = [
    "cau1_daypart_mix", "cau2_cheapest_top_rated", "cau3_distinct_suppliers",
    "cau4_daily_avg_order_value", "cau5_event_volume",
    "cau6_satisfaction_having", "cau7_hourly_coverage_grid",
    "cau8_size_coverage_grid", "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority", "tpch_q5_region_revenue",
    "tpch_q6_revenue_delta", "tpch_q9_product_profit",
    "tpch_q10_returned_top_customers", "tpch_q18_large_orders",
]
# gold refreshes that run in the same batch: versioned month-partitioned
# snapshot commits, a fingerprint-pruned diff and an incremental (IVM)
# gold refresh; and a partial-aggregate merge (operators.incremental)
GOLD_REFRESHES = ["gold_cau4_incremental_refresh_pruned", "agg_incremental_merge"]
CURATION_QUERIES = [
    "dedup_minhash_lsh_pairs", "dedup_editdist_verify",
    "dedup_semdedup_survivors", "dedup_simhash_near_pairs",
    "text_quality_scores", "corpus_clean_pipeline",
    "corpus_final_training_set",
] + GOLD_REFRESHES
# curation ops read only these tables
CURATION_TABLES = ("documents", "embeddings", "orders")
DATA_SEED = 42  # query datasets are fixed, so their result hashes can be stored


def dataset(workload: str, size: str, out_dir: str) -> dict[str, int]:
    """Generate the fixed query dataset of ``workload`` into ``out_dir``;
    returns rows per table."""
    tables = datagen.build_tables(SIZES[workload][size]["sf"], DATA_SEED)
    if workload == "curation_batch":
        tables = {t: tables[t] for t in CURATION_TABLES}
        # one year of orders: the pruned gold refresh commits orders
        # month-partitioned, and its cost follows the partition count
        # (~3 s for 12 months, ~7 s for the 79 of the full date range);
        # the year straddles agg_incremental_merge's 1997-01-01 cut-off
        tables["orders"] = datagen.fold_into_year(tables["orders"], "o_orderdate", "1996-07-01")
    datagen.write_tables(tables, out_dir)
    return {k: v.num_rows for k, v in tables.items()}


def tables_read(sql: str, rows: dict[str, int]) -> int:
    """Input rows of one query: the rows of every table its oracle SQL
    names."""
    return sum(n for t, n in rows.items() if re.search(rf"\b{t}\b", sql))


def rows_hash(df_columns: list[str], rows) -> str:
    return table_hash([c.lower() for c in df_columns], [tuple(r) for r in rows])


class Op:
    def __init__(self, name: str, rows: int, run, check):
        self.name, self.rows, self.run, self.check = name, rows, run, check


class QueryWorkload:
    """Registered query builders over a fixed dataset, in seeded order
    per pass.  ``gold_queries`` collects each result (the way a
    dashboard fetches it); ``curation_batch`` lands it as parquet in a
    ``ZoneCatalog`` under the run directory: a gold table is
    overwritten, a curation job's output is merged (idempotent append)
    into a curated table of its own."""

    def __init__(self, ctx, names: list[str], sink: str):
        import __spark_entry__ as entry
        from vexere_lakehouse_pipeline_spark.operators.incremental import ZoneCatalog

        self.ctx, self.names, self.sink = ctx, names, sink
        self.zones = ZoneCatalog(os.path.join(ctx.run_dir, "zones"), fmt="parquet")
        self.queries = entry.queries()
        oracle = entry.oracle_sql()
        self.data = {}  # size -> (data dir, expected hashes)
        for size in {ctx.size, "tiny"}:
            data_dir = os.path.join(ctx.run_dir, f"data-{size}")
            rows = dataset(ctx.workload, size, data_dir)
            self.data[size] = data_dir, ctx.expected[f"{ctx.workload}@{size}"]
            if size == ctx.size:
                self.rows = {n: tables_read(oracle[n], rows) for n in names}

    def setup(self) -> None:
        # Warm up with one untimed pass of the whole mix over the tiny
        # inputs: an op's first run in a JVM pays seconds of class
        # loading, codegen and Python-worker start that later runs do
        # not, whatever the input size, and which op runs first depends
        # on the seed.
        for i, name in enumerate(self.names):
            self.ctx.warm_up(self._op(name, f"warmup-{i}", "tiny"))

    def passes(self, pass_no: int) -> list[Op]:
        order = list(self.names)
        np.random.default_rng([self.ctx.seed, pass_no]).shuffle(order)
        return [self._op(n, f"p{pass_no}-{i}", self.ctx.size) for i, n in enumerate(order)]

    def layer_metrics(self, since: float) -> dict[str, float]:
        return {}

    def _op(self, name: str, key: str, size: str) -> Op:
        ctx = self.ctx
        data_dir, expected = self.data[size]

        def run():
            with ctx.phase("construct", "plans.construct"):
                df = self.queries[name](ctx.spark, data_dir)
            with ctx.phase("action", "spark.action"):
                if self.sink == "collect":
                    return df.columns, df.collect()
                if name in GOLD_REFRESHES:
                    self.zones.overwrite(df, "gold", key)
                    return self.zones.path("gold", key)
                self.zones.merge(df, "curated", key, merge_keys=df.columns)
                return self.zones.path("curated", key)

        def check(result) -> bool:
            if self.sink == "collect":
                cols, rows = result
            else:
                back = pq.read_table(result)
                cols, rows = back.column_names, zip(*(c.to_pylist() for c in back.columns))
            return rows_hash(cols, rows) == expected[name]

        return Op(name, self.rows[name], run, check)


class DailyRefresh:
    """One op is one simulated day: a raw ticket day through the
    medallion pipeline, then a ~1% churn batch committed to a
    month-partitioned ``orders`` and a flat ``events`` snapshot table,
    and the cau4/cau1 golds refreshed incrementally from the diff."""

    CHURN = 0.01

    def __init__(self, ctx):
        from pyspark.sql import functions as F

        from vexere_lakehouse_pipeline_spark.catalog import load_table
        from vexere_lakehouse_pipeline_spark.operators.incremental import ZoneCatalog
        from vexere_lakehouse_pipeline_spark.operators.snapshots import SnapshotTable
        from vexere_lakehouse_pipeline_spark.sources import fixtures
        from vexere_lakehouse_pipeline_spark.sources.ticket_source import TicketDataSource

        self.ctx, self.F = ctx, F
        spark, cfg = ctx.spark, SIZES["daily_refresh"][ctx.size]
        self.rows_per_day = cfg["rows_per_day"]
        generated = datagen.build_tables(cfg["sf"], ctx.seed)
        tables = {t: generated[t] for t in ("orders", "events")}
        data_dir = os.path.join(ctx.run_dir, "data")
        datagen.write_tables(tables, data_dir)
        self.landed_bytes = sum(
            os.path.getsize(os.path.join(data_dir, f"{t}.parquet")) for t in tables)
        self.churn_rows = int(self.CHURN * sum(t.num_rows for t in tables.values()))
        spark.dataSource.register(TicketDataSource)
        self.store = os.path.join(ctx.run_dir, "store")
        self.zones = ZoneCatalog(os.path.join(self.store, "zones"))
        # Facilities, reviews and the bus-id dimension are re-crawled
        # unchanged every day; they keep the fixtures' own seed, whose
        # facility pool covers all 21 ids.  (gold_sql's cau_8 grid is
        # hard-wired to 21 ids while run_gold's follows the dimension,
        # so the two disagree on a pool missing an id.)
        self.fixtures = (fixtures.raw_facilities(spark),
                         fixtures.raw_reviews(spark),
                         fixtures.bus_ids(spark))
        self.month = F.date_format("o_orderdate", "yyyy-MM")
        self.orders = SnapshotTable(os.path.join(self.store, "orders"))
        self.events = SnapshotTable(os.path.join(self.store, "events"))
        self.gold4 = SnapshotTable(os.path.join(self.store, "gold_cau4"))
        self.gold1 = SnapshotTable(os.path.join(self.store, "gold_cau1"))
        self._orders_v0 = load_table(spark, data_dir, "orders").withColumn("o_month", self.month)
        self._events_v0 = load_table(spark, data_dir, "events")
        self.day = 0

    def setup(self) -> None:
        from vexere_lakehouse_pipeline_spark.plans import star

        spark = self.ctx.spark
        with self.ctx.untimed("setup"):
            self.orders.commit(self._orders_v0, note="v0", part_by=["o_month"])
            self.events.commit(self._events_v0, note="v0")
            self.gold4.commit(star.cau4_agg(self.orders.read(spark)), note="v0")
            self.gold1.commit(star.cau1_agg(self.events.read(spark)), note="v0")
        self.ctx.warm_up(self._op())

    def passes(self, pass_no: int) -> list[Op]:
        return [self._op()]

    def _churn(self, df, key: str, day: int, updates):
        """Deterministic ~1% churn for (seed, day): update ~CHURN of the
        rows, delete a tenth as many."""
        F = self.F
        h = F.abs(F.xxhash64(F.col(key), F.lit(self.ctx.seed), F.lit(day))) % 1000
        hit = h < int(self.CHURN * 1000)
        for col, expr in updates.items():
            df = df.withColumn(col, F.when(hit, expr).otherwise(F.col(col)))
        return df.filter(h != 999)

    def _op(self) -> Op:
        from vexere_lakehouse_pipeline_spark.operators.snapshots import incremental_gold_refresh
        from vexere_lakehouse_pipeline_spark.plans import star
        from vexere_lakehouse_pipeline_spark.plans.pipeline import run_full_pipeline

        ctx, F, spark = self.ctx, self.F, self.ctx.spark
        self.day += 1
        day = self.day
        when = date(2025, 5, 1) + timedelta(days=day)

        def run():
            raw = (spark.read.format("vexere_tickets")
                   .option("days", when.strftime("%d-%m-%Y"))
                   .option("rows_per_day", self.rows_per_day)
                   .option("seed", ctx.seed).load())
            with ctx.phase("construct", "plans.construct"):
                gold = run_full_pipeline(spark, self.zones, raw, *self.fixtures,
                                         ingest_date=when.isoformat())
            with ctx.phase("action", "snapshots.churn_commit"):
                orders = self._churn(self.orders.read(spark), "o_orderkey", day, {
                    "o_totalprice": F.col("o_totalprice") + 1.0,
                    # group- and partition-moving update
                    "o_orderdate": F.col("o_orderdate") + F.expr("INTERVAL 40 DAYS"),
                }).withColumn("o_month", self.month)
                events = self._churn(self.events.read(spark), "event_id", day, {
                    "value": F.col("value") + 5.0,
                    "user_id": F.col("user_id") + 1,  # cohort-moving update
                })
                vo = self.orders.commit(orders, note=f"day {day}", part_by=["o_month"])
                ve = self.events.commit(events, note=f"day {day}")
            with ctx.phase("action", "snapshots.refresh"):
                self.gold4.commit(incremental_gold_refresh(
                    spark, self.orders, vo - 1, vo, ["o_orderkey"],
                    [("order_date", F.to_date("o_orderdate"))], star.cau4_agg,
                    self.gold4.read(spark), scope_parts=True), note=f"day {day}")
                self.gold1.commit(incremental_gold_refresh(
                    spark, self.events, ve - 1, ve, ["event_id"],
                    [("event_type", F.col("event_type")),
                     ("user_cohort", F.col("user_id") % 8)], star.cau1_agg,
                    self.gold1.read(spark)), note=f"day {day}")
            return gold, vo, ve

        def check(result) -> bool:
            from vexere_lakehouse_pipeline_spark.plans import gold_sql

            gold, vo, ve = result
            silver = {n: self.zones.read(spark, "silver", n) for n in gold_sql.SILVER_VIEWS}
            gold_sql.register_silver_views(spark, silver)
            pairs = {name: (gold[name], sql_df)
                     for name, sql_df in gold_sql.run_gold_sql(spark).items()}
            pairs["ivm_cau4"] = (self.gold4.read(spark), star.cau4_agg(self.orders.read(spark, vo)))
            pairs["ivm_cau1"] = (self.gold1.read(spark), star.cau1_agg(self.events.read(spark, ve)))
            bad = [name for name, (a, b) in pairs.items() if not _same(a, b)]
            if bad:
                ctx.log(f"day {day}: output differs from its reference: {bad}")
            return not bad

        return Op(f"day{day}", self.rows_per_day + self.churn_rows, run, check)

    def layer_metrics(self, since: float) -> dict[str, float]:
        """Audit-row task times of the days run since ``since``, and the
        bytes stored under zones and snapshot tables per byte landed
        (reported on stderr: daily_refresh is not in BENCHMARK.json)."""
        audit = pq.read_table(self.zones.path("audit", "audit")).to_pylist()
        start = datetime.fromtimestamp(since, timezone.utc).isoformat()
        rows = [r for r in audit if r["start_time"] >= start]
        out = {f"pipeline.{task}_s": sum(r["duration_seconds"] for r in rows
                                         if r["task_id"] == task)
               for task in ("to_bronze", "ticket_to_silver", "facility_to_silver",
                            "review_to_silver", "update_charts")}
        out["pipeline.task_retries"] = sum(1 for r in rows if r["try_number"] > 1)
        landed = self.landed_bytes + du(self.zones.path("bronze", "ticket"))
        out["stored_bytes_per_input_byte"] = du(self.store) / landed
        return out


def _same(a, b) -> bool:
    return rows_hash(a.columns, a.collect()) == rows_hash(b.columns, b.collect())


class AnnServe:
    """Build, save and load an sq8 and an ivfpq index once, then serve
    batches of held-out queries.  One op serves one batch through each
    kind in turn: alternating single-kind ops would give a two-humped
    latency distribution whose median falls in the gap between kinds.
    A pass is one op, so ``rows_per_s`` is a median over batches."""

    K = 10
    KINDS = ("sq8", "ivfpq")
    WARMUP_BATCHES = 3
    TRACE_PASSES = 3
    # recall@10 floor per kind: below what the engine's indexes reach on
    # this data (sq8 ~0.97; ivfpq with its untrained coarse lists and
    # 4-bit PQ codes ~0.15-0.55), far above a random top-10 (~0.001)
    RECALL_FLOOR = {"sq8": 0.8, "ivfpq": 0.08}

    def __init__(self, ctx):
        from vexere_lakehouse_pipeline_spark.catalog import load_table

        self.ctx = ctx
        cfg = SIZES["ann_serve"][ctx.size]
        self.batch = cfg["batch"]
        # A fixed corpus, so that every run builds and probes the same
        # indexes (their cost depends on how the data falls into
        # lists); --seed picks the order of the held-out query batches.
        n_batches = 64
        vecs, labels = datagen.unit_mixture(np.random.default_rng(DATA_SEED),
                                            cfg["vectors"] + n_batches * self.batch)
        self.corpus, self.held_out = vecs[:cfg["vectors"]], vecs[cfg["vectors"]:]
        self.batch_order = np.random.default_rng(ctx.seed).permutation(n_batches)
        data_dir = os.path.join(ctx.run_dir, "data")
        datagen.write_tables({"embeddings": datagen.vectors_table(
            self.corpus, labels[:cfg["vectors"]])}, data_dir)
        self.candidates = load_table(ctx.spark, data_dir, "embeddings")
        self.index_dir = os.path.join(ctx.run_dir, "ann")
        self.indexes: dict = {}
        self.next_batch = 0
        self.recalls: dict[str, list[float]] = {kind: [] for kind in self.KINDS}

    def setup(self) -> None:
        from vexere_lakehouse_pipeline_spark.operators import ann_index

        ctx = self.ctx
        for kind in self.KINDS:
            path = os.path.join(self.index_dir, kind)
            with ctx.untimed(f"build-{kind}", traced=True):
                built = ann_index.ann_index_build(self.candidates, kind=kind)
                ann_index.ann_index_save(built, path)
                self.indexes[kind] = ann_index.ann_index_load(ctx.spark, path)
        # the batches after the builds run slower than later ones (on a
        # 4-core host ~7.6, 5.9, 5.5, 4.5, 4.2, then 3.3-3.9 s)
        for _ in range(self.WARMUP_BATCHES):
            ctx.warm_up(self._op())
        for r in self.recalls.values():
            r.clear()

    def passes(self, pass_no: int) -> list[Op]:
        return [self._op()]

    def _op(self) -> Op:
        from vexere_lakehouse_pipeline_spark.operators import similarity as sim

        ctx = self.ctx
        b = int(self.batch_order[self.next_batch % len(self.batch_order)])
        self.next_batch += 1
        q = self.held_out[b * self.batch:(b + 1) * self.batch]
        first_id = 10_000_000 + b * self.batch
        serve = {"sq8": sim.topk_sq8, "ivfpq": sim.topk_ivfpq_rerank}

        def run():
            out = {}
            for kind in self.KINDS:
                with ctx.phase("construct", "similarity.serve_construct"):
                    queries = ctx.spark.createDataFrame(
                        [(first_id + i, v.tolist()) for i, v in enumerate(q)],
                        "vec_id long, embedding array<float>")
                    df = serve[kind](self.candidates, queries, k=self.K,
                                     index=self.indexes[kind])
                with ctx.phase("action", "spark.action"):
                    out[kind] = df.select("query_id", "vec_id").collect()
            return out

        def check(out) -> bool:
            exact = np.argsort(-(q.astype(np.float64) @ self.corpus.T.astype(np.float64)),
                               axis=1)[:, :self.K]
            ok = True
            for kind, rows in out.items():
                got: dict[int, set] = {}
                for r in rows:
                    got.setdefault(r.query_id - first_id, set()).add(r.vec_id)
                if sorted(got) != list(range(len(q))) or any(
                        len(s) != self.K for s in got.values()):
                    ctx.log(f"{kind}: not {self.K} results for each of {len(q)} queries")
                    ok = False
                    continue
                recall = float(np.mean([len(got[i] & set(exact[i].tolist())) / self.K
                                        for i in range(len(q))]))
                self.recalls[kind].append(recall)
                if recall < self.RECALL_FLOOR[kind]:
                    ctx.log(f"{kind}: recall@{self.K} {recall:.3f} below the floor")
                    ok = False
            return ok

        return Op(f"serve-batch{b}", len(q), run, check)

    def layer_metrics(self, since: float) -> dict[str, float]:
        return {
            "recall_at_10": float(np.mean([x for r in self.recalls.values() for x in r])),
            "ann_index.bytes": du(self.index_dir),
        }


WORKLOADS = {
    "gold_queries": lambda ctx: QueryWorkload(ctx, GOLD_QUERIES, "collect"),
    "curation_batch": lambda ctx: QueryWorkload(ctx, CURATION_QUERIES, "zones"),
    "daily_refresh": DailyRefresh,
    "ann_serve": AnnServe,
}
