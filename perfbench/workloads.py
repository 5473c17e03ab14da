"""The three user workloads. Each is a closed loop with one client: the next
request is sent only after the previous one has finished.

A workload provides
- ``prepare()``: generate its seeded inputs (not timed, before the JVM starts);
- ``setup_request(i)``: the first, cold request of a fresh JVM and session;
- ``run(runner, deadline)``: the warm closed loop, until ``deadline`` and at
  least ``min_requests``, but starting no request after ``cutoff``; returns
  the latency samples and ``rows_per_s``, the rows its requests processed per
  second of the loop.

Requests return their latency, measured around the engine calls only; the
checks of their outputs run after the clock stops and record wrong outputs
through ``check``.

Every call into the engine sits inside ``self.tracer.span("<layer>.<call>")``;
untraced runs use a tracer whose spans do nothing.
"""

from __future__ import annotations

import datetime
import hashlib
import itertools
import os
import random
import re
import time
from collections import Counter

from pyspark.sql import functions as F

from perfbench import inputs


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Workload:
    name = ""
    min_requests = 1
    cutoff = float("inf")  # perf_counter time after which no request starts

    def __init__(self, engine, workdir: str, seed: int, tracer):
        self.engine = engine
        self.workdir = workdir
        self.seed = seed
        self.tracer = tracer
        self.data = os.path.join(workdir, "data")
        os.makedirs(self.data, exist_ok=True)
        self.input_digests: dict[str, str] = {}
        self.wrong: list[str] = []  # failed checks of the request under way

    def more(self, sent: int, deadline: float) -> bool:
        """Whether the closed loop sends another request after ``sent``."""
        now = time.perf_counter()
        return now < self.cutoff and (sent < self.min_requests or now < deadline)

    def check(self, ok: bool, what: str) -> None:
        """Record a wrong output; the request still completes and is
        timed, and counts as failed."""
        if not ok:
            self.wrong.append(what)

    @property
    def spark(self):
        return self.engine.spark

    def close(self) -> None:
        pass

    def layer_extras(self) -> dict[str, float]:
        """Run-level per-layer readings that belong to no single request."""
        return {}

    def report(self) -> dict:
        """Workload facts for the run description (sizes, output digests)."""
        return {}


# --------------------------------------------------------------------------
# analytics: one analyst clicking through the A5 dashboard
# --------------------------------------------------------------------------
class Analytics(Workload):
    name = "analytics"
    warmup = 2  # interactions sent and checked, not sampled: the JIT is still compiling
    min_requests = 8
    filter_pattern = [(False, False), (True, False), (False, True), (True, True)]  # (models, search)
    n_orders = 50_000
    search_cols = ["name", "email", "car_model"]

    def prepare(self):
        from etl_school_spark.sources.generator import CAR_CATALOG

        self.table = os.path.join(self.data, "client_buy_orders.parquet")
        inputs.buy_orders_parquet(self.table, self.n_orders, self.seed)
        self.input_digests["client_buy_orders"] = inputs.digest(self.table)
        self.catalog = [(m, b, e, p) for m, b, e, _hp, p, *_ in CAR_CATALOG]
        self.plan_rng = random.Random(self.seed)
        self.setup_rng = random.Random(self.seed + 1)
        import duckdb

        self.duck = duckdb.connect()
        self.duck.execute(
            f"CREATE VIEW orders AS SELECT * FROM read_parquet('{self.table}/*.parquet')"
        )

    def close(self):
        if hasattr(self, "duck"):
            self.duck.close()

    def report(self) -> dict:
        return {"orders": self.n_orders}

    def _interaction(self, rng: random.Random, models_on: bool, search_on: bool) -> dict:
        """A seeded dashboard state. Every state selects at least one
        catalog model inside its price range over a window of 90+ days of
        a 2-year table, so it holds hundreds of rows or more. The optional
        model filter and search are on as asked."""
        brands = sorted({b for _, b, _, _ in self.catalog})
        engines = sorted({e for _, _, e, _ in self.catalog})
        while True:
            sel_b = sorted(rng.sample(brands, rng.randint(2, len(brands))))
            sel_e = sorted(rng.sample(engines, rng.randint(2, len(engines))))
            models = [(m, p) for m, b, e, p in self.catalog if b in sel_b and e in sel_e]
            if models:
                break
        sel_m = None
        if models_on:
            sel_m = sorted(m for m, _ in rng.sample(models, rng.randint(1, len(models))))
            models = [(m, p) for m, p in models if m in sel_m]
        anchor = rng.choice(models)
        lo = rng.randint(10_000, anchor[1])
        hi = rng.randint(anchor[1], 70_000)
        start_day = rng.randint(0, 730 - 90)
        days = rng.randint(90, 730 - start_day)
        first = datetime.date(2024, 1, 2) + datetime.timedelta(days=start_day)
        start = first.isoformat()
        end = (first + datetime.timedelta(days=days)).isoformat()
        search = None
        if search_on:
            name = anchor[0]
            i = rng.randrange(len(name) - 2)
            search = name[i:i + 3].strip() or name[:3]
        return {
            "brands": sel_b, "engines": sel_e, "models": sel_m, "lo": lo, "hi": hi,
            "start": start, "end": end, "search": search, "check": rng.random() < 0.5,
        }

    def _run_interaction(self, it: dict) -> dict:
        from etl_school_spark.app.dashboard import Dashboard
        from etl_school_spark.tables import load_table

        with self.tracer.span("tables.load"):
            base = load_table(self.spark, self.data, "client_buy_orders")
        with self.tracer.span("app.build"):
            d = Dashboard(base, "sell_price", self.search_cols)
            d.filter_isin("brand", it["brands"]).filter_isin("engine", it["engines"])
            if it["models"]:
                d.filter_isin("car_model", it["models"])
            d.filter_range("sell_price", it["lo"], it["hi"])
            d.filter_time("purchase_time", it["start"], it["end"])
            if it["search"]:
                d.search(it["search"])
        with self.tracer.span("app.metrics"):
            tiles = d.metrics()
        with self.tracer.span("app.top_breakdown"):
            top_models = d.top_breakdown("car_model").collect()
        with self.tracer.span("app.top_breakdown"):
            top_engines = d.top_breakdown("engine").collect()
        with self.tracer.span("app.preview"):
            preview = d.preview().collect()
        with self.tracer.span("sources.export"):
            csv = d.export()
        return {"tiles": tiles, "top": (top_models, top_engines), "preview": preview, "csv": csv}

    def _check(self, it: dict, out: dict) -> None:
        tiles = out["tiles"]
        self.check(tiles["rows"] > 0, "selection unexpectedly empty")
        self.check(len(out["preview"]) == min(100, tiles["rows"]), "preview row count")
        self.check(len(out["csv"].splitlines()) == 1 + min(10_000, tiles["rows"]), "export line count")
        self.check(sum(r.n for r in out["top"][1]) == tiles["rows"], "engine breakdown does not sum to rows")
        if not it["check"]:
            return
        where = [
            "list_contains(?, brand)",
            "list_contains(?, engine)",
            "sell_price BETWEEN ? AND ?",
            "purchase_time >= CAST(? AS TIMESTAMP)",
            "purchase_time < CAST(? AS TIMESTAMP)",
        ]
        args = [it["brands"], it["engines"], it["lo"], it["hi"], it["start"], it["end"]]
        if it["models"]:
            where.append("list_contains(?, car_model)")
            args.append(it["models"])
        if it["search"]:
            where.append("(" + " OR ".join(f"{c} ILIKE ?" for c in self.search_cols) + ")")
            args += [f"%{it['search']}%"] * len(self.search_cols)
        n, total = self.duck.execute(
            f"SELECT count(*), sum(sell_price) FROM orders WHERE {' AND '.join(where)}", args
        ).fetchone()
        self.check(tiles["rows"] == n, f"metrics rows {tiles['rows']} != duckdb {n}")
        self.check(int(tiles["total"]) == int(total), f"metrics total {tiles['total']} != duckdb {total}")
        self.check(abs(float(tiles["avg"]) - int(total) / n) <= 1e-9 * abs(int(total) / n), "metrics avg")

    def setup_request(self, i: int) -> float:
        """Open the dashboard: fill the three filter widgets, then render
        the first state. That state uses every filter kind, so the first
        plan of each shape is built here and not in a sampled interaction."""
        from etl_school_spark.app.dashboard import Dashboard
        from etl_school_spark.tables import load_table

        it = self._interaction(self.setup_rng, models_on=True, search_on=True)
        t0 = time.perf_counter()
        with self.tracer.span("tables.load"):
            base = load_table(self.spark, self.data, "client_buy_orders")
        widgets = {}
        for col in ("brand", "car_model", "engine"):
            with self.tracer.span("app.filter_options"):
                widgets[col] = Dashboard(base, "sell_price", self.search_cols).filter_options(col)
        out = self._run_interaction(it)
        dt = time.perf_counter() - t0
        for col, vals in widgets.items():
            want = [r[0] for r in self.duck.execute(f"SELECT DISTINCT {col} FROM orders ORDER BY 1").fetchall()]
            self.check(vals == want, f"filter_options({col})")
        self._check(it, out)
        return dt

    def run(self, runner, deadline: float) -> dict:
        for _ in range(self.warmup):
            runner.call("warmup", self._request)
        lat = []
        t0 = time.perf_counter()
        for i in itertools.count():
            if not self.more(i, deadline):
                break
            dt = runner.call("interaction", self._request)
            if dt is not None:
                lat.append(dt)
        return {"latencies": lat, "rows_per_s": self.n_orders * len(lat) / (time.perf_counter() - t0)}

    def _request(self, i: int) -> float:
        # the optional filters cycle through a fixed pattern, so every seed
        # samples the same mix of plan shapes; only their values are seeded.
        # Each shape is held for two requests: a traced run traces every
        # other request, so each shape is seen both traced and untraced.
        models_on, search_on = self.filter_pattern[(i // 2) % len(self.filter_pattern)]
        it = self._interaction(self.plan_rng, models_on, search_on)
        t0 = time.perf_counter()
        out = self._run_interaction(it)
        dt = time.perf_counter() - t0
        self._check(it, out)
        return dt


# --------------------------------------------------------------------------
# ingest: a scheduled ETL task — backfill, then a micro-batch stream
# --------------------------------------------------------------------------
class Ingest(Workload):
    name = "ingest"
    n_batches = 6
    corrupt_share = 0.02
    events_per_batch = 200
    min_requests = 2  # micro-batches

    def prepare(self):
        from pyspark.sql.types import StringType, StructField, StructType

        from etl_school_spark.schemas import CLIENT_BUY_ORDERS
        from etl_school_spark.sources.readers import CORRUPT_COL

        # copy_into diverts unparseable lines to <target>__rejects only when
        # the stage schema carries the corrupt-record column (split_corrupt
        # keys on it), the way read_json_lines builds it
        self.stage_schema = StructType(list(CLIENT_BUY_ORDERS.fields) + [StructField(CORRUPT_COL, StringType())])
        self.stage = os.path.join(self.data, "stage")
        self.setup_stage = os.path.join(self.data, "setup_stage")
        self.batches = inputs.staged_orders(self.stage, self.n_batches, self.seed, self.corrupt_share)
        self.setup_batch = inputs.staged_orders(self.setup_stage, 1, self.seed + 1, self.corrupt_share)[0]
        self.input_digests["stage"] = inputs.digest(self.stage)
        self.input_digests["setup_stage"] = inputs.digest(self.setup_stage)
        self.stage_bytes = dir_bytes(self.stage)
        self.extras = {}

    def layer_extras(self) -> dict[str, float]:
        return self.extras

    def report(self) -> dict:
        return {
            "batches": self.n_batches,
            "produced": sum(b["produced"] for b in self.batches),
            "injected_corrupt": sum(b["corrupt"] for b in self.batches),
            "events_per_batch": self.events_per_batch,
            **self.extras,
        }

    def _load(self, stage: str, batch: dict, target: str) -> tuple[float, int]:
        """One stage file through copy_into. Checks that loaded plus
        rejected equals produced and that rejected equals the injected
        corrupt lines."""
        from etl_school_spark.sources.writers import copy_into

        rejects = target + "__rejects"
        before, rejected_before = dir_bytes(target), _count_lines(rejects)
        t0 = time.perf_counter()
        with self.tracer.span("sources.copy_into"):
            n = copy_into(self.spark, stage, target, self.stage_schema, pattern=batch["file"])
        dt = time.perf_counter() - t0
        rejected = _count_lines(rejects) - rejected_before
        self.tracer.count("sources.rows_loaded", n)
        self.tracer.count("sources.rows_rejected", rejected)
        self.tracer.count("sources.bytes_written", dir_bytes(target) - before)
        self.check(n + rejected == batch["produced"], f"{batch['file']}: loaded {n} + rejected {rejected} != produced {batch['produced']}")
        self.check(rejected == batch["corrupt"], f"{batch['file']}: rejected {rejected} != injected corrupt {batch['corrupt']}")
        return dt, n

    def _check_landed(self, target: str, batches: list[dict]) -> None:
        """The target holds each good record exactly once, and nothing else."""
        landed = Counter(r.txid for r in self.spark.read.parquet(target).select("txid").collect())
        want = Counter(t for b in batches for t in b["good_txids"])
        self.check(landed == want, f"target holds {sum(landed.values())} rows ({landed.get(None, 0)} without txid), "
                   f"want each of {sum(want.values())} good records once")

    def _new_stream(self, tag: str) -> dict:
        from etl_school_spark.streaming.broker import FileBroker

        root = os.path.join(self.workdir, tag)
        return {
            "broker": FileBroker(self.spark, root),
            "sink": os.path.join(root, "cc_trans"),
            "dq": os.path.join(root, "dq_metrics"),
            "history": os.path.join(root, "task_history"),
            "rules": self._dq_rules(),
            "published": Counter(),
            "cycles": 0,
        }

    def _dq_rules(self):
        from etl_school_spark.quality import DqRule

        return [
            DqRule("non_null_txn_id", F.col("txn_id").isNotNull(), 1.0),
            DqRule("amount_ok", F.col("amount").between(0, 50_000), 0.95),
            DqRule("currency_ok", F.col("currency") == "USD", 0.99),
        ]

    def _cycle(self, st: dict, batch_seed: int) -> float:
        """Publish one card-event micro-batch and run the DAG that lands,
        checks and serves it: consume → DQ → masked read. Returns the
        seconds from publish to the DAG run completing with the rows
        readable."""
        from etl_school_spark.orchestrate import TaskDag
        from etl_school_spark.privacy import masked_view
        from etl_school_spark.quality import run_dq
        from etl_school_spark.schemas import CC_PAYLOAD
        from etl_school_spark.sources.generator import gen_cc_events
        from etl_school_spark.streaming.pipelines import flatten_cc_payload

        records = gen_cc_events(self.events_per_batch, seed=batch_seed)
        broker, served = st["broker"], {}

        def consume(spark):
            with self.tracer.span("streaming.consume"):
                broker.consume_available("cc", CC_PAYLOAD, "landing", st["sink"], transform=flatten_cc_payload)
            return len(records)

        def dq(spark):
            with self.tracer.span("quality.run_dq"):
                run_dq(spark, spark.read.parquet(st["sink"]), st["rules"], st["dq"])
            return len(st["rules"])

        def serve(spark):
            with self.tracer.span("privacy.masked_view"):
                view = masked_view(spark.read.parquet(st["sink"]), "analyst", ["card_number"])
                served["rows"] = view.select("txn_id", "card_number").collect()
            return len(served["rows"])

        dag = TaskDag(self.spark, st["history"])
        dag.add("consume", consume).add("dq", dq, after=["consume"]).add("serve", serve, after=["dq"])
        t0 = time.perf_counter()
        with self.tracer.span("streaming.publish"):
            broker.publish("cc", records)
        with self.tracer.span("orchestrate.run"):
            status = dag.run()
        fresh = time.perf_counter() - t0

        st["cycles"] += 1
        st["published"].update(r["transaction"]["id"] for r in records)
        self.check(all(v == "SUCCEEDED" for v in status.values()), f"DAG statuses {status}")
        rows = served.get("rows", [])
        self.check(Counter(r.txn_id for r in rows) == st["published"], "served events differ from published (not exactly once)")
        self.check(all(re.fullmatch(r"\*{15}\d{4}", r.card_number) for r in rows), "card number not masked for analyst")
        return fresh

    def _check_dq(self, st: dict) -> None:
        rows = self.spark.read.parquet(st["dq"]).collect()
        self.check(len(rows) == len(st["rules"]) * st["cycles"], "one DQ metric row per rule per cycle")
        self.check(all(r.metric_value == 1.0 for r in rows), "DQ metric below 1.0 on clean events")

    def setup_request(self, i: int) -> float:
        """The task's first run: one backfill batch and one micro-batch,
        each into tables of their own."""
        target = os.path.join(self.workdir, "setup", "orders")
        load_s, _ = self._load(self.setup_stage, self.setup_batch, target)
        fresh = self._cycle(self._new_stream("setup/stream"), self.seed * 1_000_003 + 999_999)
        self._check_landed(target, [self.setup_batch])
        return load_s + fresh

    def run(self, runner, deadline: float) -> dict:
        target = os.path.join(self.workdir, "orders")
        loads = []
        for b in self.batches:
            r = runner.call("backfill", lambda i, b=b: self._load(self.stage, b, target))
            if r is not None:
                loads.append(r[0])
        runner.call("check", lambda i: self._check_landed(target, self.batches))
        self.extras["sources.bytes_stored_per_input_byte"] = dir_bytes(target) / self.stage_bytes
        st = self._new_stream("stream")
        lat = []
        while self.more(len(lat), deadline):
            dt = runner.call("cycle", lambda i: self._cycle(st, self.seed * 1_000_003 + i))
            if dt is None:
                break  # the stream's state is unknown after a failed cycle
            lat.append(dt)
        runner.call("check", lambda i: self._check_dq(st))
        rows = sum(b["produced"] for b in self.batches)
        return {"latencies": lat, "rows_per_s": rows / sum(loads) if loads else 0.0}


def _count_lines(path: str) -> int:
    n = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                with open(os.path.join(root, f), "rb") as fh:
                    n += sum(1 for _ in fh)
    return n


# --------------------------------------------------------------------------
# corpus: build training shards, then semantic dedup of the embeddings
# --------------------------------------------------------------------------
class Corpus(Workload):
    name = "corpus"
    n_docs = 1250  # a quarter of sf0.1's 5 000 documents and 2 000 embeddings
    n_vecs = 500
    exact_share = 0.05
    near_share = 0.10
    dup_vec_share = 0.05
    min_requests = 3  # warm builds, so the median and the tail are statistics
    n_shards = 8  # build_corpus defaults, repeated by the staged split
    pack_capacity = 2048
    shard_cols = "doc_id, shard, first_window, last_window, n_tokens"

    def prepare(self):
        self.meta = inputs.corpus_tables(
            os.path.join(self.data, "documents.parquet"), os.path.join(self.data, "embeddings.parquet"),
            self.n_docs, self.n_vecs, self.seed, self.exact_share, self.near_share, self.dup_vec_share,
        )
        for t in ("documents", "embeddings"):
            self.input_digests[t] = inputs.digest(os.path.join(self.data, f"{t}.parquet"))
        self.shards = os.path.join(self.workdir, "shards")
        self.first: dict | None = None
        import duckdb

        self.duck = duckdb.connect()

    def close(self):
        if hasattr(self, "duck"):
            self.duck.close()

    def report(self) -> dict:
        first = self.first or {}
        return {
            "docs": self.meta["docs"],
            "vecs": self.meta["vecs"],
            "survivors": first.get("survivors"),
            "shard_digest": first.get("digest"),
            "semdedup_dups": len(first.get("dups", [])),
        }

    def _build(self) -> tuple[float, list[int]]:
        """Input → shards on disk, plus the SemDeDup duplicate ids."""
        from etl_school_spark.pipeline import build_corpus, write_corpus_shards
        from etl_school_spark.similarity.semantic import semantic_dedup
        from etl_school_spark.tables import load_table

        t0 = time.perf_counter()
        with self.tracer.span("tables.load"):
            docs = load_table(self.spark, self.data, "documents")
        with self.tracer.span("pipeline.build"):
            corpus = build_corpus(docs, near_dedup=True)
        with self.tracer.span("sources.shard_write"):
            write_corpus_shards(corpus, self.shards)
        with self.tracer.span("tables.load"):
            embs = load_table(self.spark, self.data, "embeddings")
        with self.tracer.span("similarity.semantic_dedup"):
            res = semantic_dedup(embs)
            dups = sorted(r.vec_id for r in res.filter(~F.col("keep")).select("vec_id").collect())
        return time.perf_counter() - t0, dups

    def _shard_rows(self) -> list[tuple]:
        return self.duck.execute(
            f"SELECT {self.shard_cols}, md5(text) FROM read_parquet('{self.shards}/*/*.parquet', "
            "hive_partitioning = true) ORDER BY doc_id"
        ).fetchall()

    def _check(self, dups: list[int]) -> dict:
        rows = self._shard_rows()
        ids = {r[0] for r in rows}
        self.check(len(ids) == len(rows), "a document landed in two shards")
        self.check(not ids & set(self.meta["exact_ids"]), "an injected exact copy survived dedup")
        self.check(set(self.meta["dup_vec_ids"]) <= set(dups), "an injected duplicate embedding was kept")
        out = {"survivors": len(rows), "digest": hashlib.sha256(repr(rows).encode()).hexdigest(), "dups": dups}
        if self.first is None:
            self.first = out
        self.check(out["survivors"] == self.first["survivors"], "survivor count changed between builds")
        self.check(out["digest"] == self.first["digest"], "shard content changed between builds")
        self.check(out["dups"] == self.first["dups"], "SemDeDup result changed between builds")
        return out

    def setup_request(self, i: int) -> float:
        dt, dups = self._build()
        self._check(dups)
        return dt

    def _request(self, i: int) -> float:
        dt, dups = self._build()
        self._check(dups)
        if self.tracer.enabled:
            self._staged_split()
        return dt

    def _staged_split(self) -> None:
        """Traced runs only: the build_corpus composition with every stage
        materialised in turn, to split its time by stage. Its output must
        equal the shards build_corpus wrote."""
        from etl_school_spark.dedup.exact import drop_exact_duplicates
        from etl_school_spark.dedup.ngram import ngram_jaccard_pairs
        from etl_school_spark.functions.corpus import filter_corpus
        from etl_school_spark.functions.sampling import pack_concat_windows, reshard
        from etl_school_spark.functions.text import token_count
        from etl_school_spark.pipeline import drop_near_duplicates
        from etl_school_spark.privacy import scrub_corpus
        from etl_school_spark.tables import load_table

        cached = []

        def stage(df):
            df = df.persist()
            cached.append(df)
            return df, df.count()

        docs = load_table(self.spark, self.data, "documents")
        with self.tracer.span("trace.stages"):
            with self.tracer.span("functions.filter"):
                kept, n_kept = stage(filter_corpus(docs, "text"))
            with self.tracer.span("privacy.scrub"):
                scrubbed, _ = stage(scrub_corpus(kept, "text"))
            with self.tracer.span("dedup.exact"):
                exact, n_exact = stage(drop_exact_duplicates(scrubbed, "doc_id", "text"))
            with self.tracer.span("dedup.near"):
                near, n_near = stage(drop_near_duplicates(exact, "doc_id", "text"))
            with self.tracer.span("functions.pack"):
                out = near.withColumn("n_tokens", token_count("text").cast("long"))
                out = pack_concat_windows(reshard(out, "doc_id", self.n_shards), "doc_id", "n_tokens",
                                          self.pack_capacity, self.n_shards)
                packed = out.select(*self.shard_cols.split(", "), F.md5("text")).orderBy("doc_id").collect()
        pairs = ngram_jaccard_pairs(exact, threshold=0.8, n=3, id_col="doc_id", text_col="text").count()
        for df in cached:
            df.unpersist()
        self.tracer.count("functions.docs_kept", n_kept)
        self.tracer.count("dedup.exact_dropped", n_kept - n_exact)
        self.tracer.count("dedup.near_pairs", pairs)
        self.tracer.count("dedup.near_dropped", n_exact - n_near)
        self.tracer.count("similarity.dups", len(self.first["dups"]))
        self.check([tuple(r) for r in packed] == self._shard_rows(), "staged build differs from build_corpus output")

    def run(self, runner, deadline: float) -> dict:
        lat = []
        t0 = time.perf_counter()
        for i in itertools.count():
            if not self.more(i, deadline):
                break
            dt = runner.call("build", self._request)
            if dt is not None:
                lat.append(dt)
        return {"latencies": lat, "rows_per_s": self.meta["docs"] * len(lat) / (time.perf_counter() - t0)}


WORKLOADS = {w.name: w for w in (Analytics, Ingest, Corpus)}
