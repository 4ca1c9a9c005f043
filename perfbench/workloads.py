"""The four benchmark workloads. Each drives the engine only through its
public functions: ``plans.Context.ref``/``Context.sql``,
``warehouse.build_warehouse``, ``tableformat.TxnTable``,
``operators.dedup.incremental_dedup_batch`` and
``streaming.windows.streaming_dedup_by_event_id``.

A workload runs *passes*: one untimed warm-up, then timed ones.
``run_pass`` returns a dict with the pass wall (``wall``), the latency of
every op (``ops``: name -> seconds), and what the correctness checks need;
``finish`` adds what is read back after the pass is timed. ``check_warmup`` compares the untimed warm-up pass
against an independent answer and returns the ops it found wrong;
``check_timed`` compares a timed pass against the warm-up pass. Per-layer
figures that only the workload knows come from ``layer_metrics``.
"""

from __future__ import annotations

import os
import random
import statistics
import traceback

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.stats import fingerprint

LLM_PIPELINE = [
    "dedup_minhash_lsh",
    "dedup_ppjoin",
    "docs_winnow_dups",
    "ann_cosine_topk",
    "ann_pq_adc_topk",
    "kmeans_cells",
    "parts_pagerank",
    "parts_neighbor_similarity",
    "docs_bm25_topk",
    "doc_text_stats",
]
#: the dbt layers whose table-models ``dag_build`` materializes: 27 tables
#: in three levels. The 23 ``reports`` tables are left out: with them a
#: cold plus a warm build take ~55 s on 4 cores, more than a run can spend
#: when a benchmark round makes 22 runs of each workload
DAG_LAYERS = ("ods", "wh", "intermediate", "metrics")
#: ``dag_build`` checks this many seeded artifacts per run against their
#: DuckDB oracle, and re-derives ``LAZY_CHECKS`` of them lazily from the
#: sources; over the runs of a benchmark round every table gets its turns
ORACLE_CHECKS = 6
LAZY_CHECKS = 1


def spark_fingerprint(df) -> str:
    """Whole-row hash action: row count and the sum of every row's
    xxhash64 (order-insensitive, so partitioning cannot change it)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).head()
    return f"{row['n']}:{row['h']}"


def _oracle_mismatches(b, results: dict, names) -> set[str]:
    """Names whose Spark result (``results[name]`` -> DataFrame) differs
    from its DuckDB oracle over the single-file corpus."""
    import __spark_entry__

    from dbt_tpch_spark.parity import compare_frames, duckdb_connection

    sqls = __spark_entry__.oracle_sql()
    bad = set()
    con = duckdb_connection(b.gen_dir)
    try:
        for name in names:
            try:
                report = compare_frames(
                    results[name].toPandas(), con.execute(sqls[name]).fetchdf()
                )
            except Exception as exc:  # a check that cannot run is a failed op
                b.log(f"oracle check {name}: {exc!r}")
                bad.add(name)
                continue
            if not report["values_match"]:
                b.log(f"oracle mismatch {name}: {report}")
                bad.add(name)
    finally:
        con.close()
    return bad


class QueryWorkload:
    """A closed loop of model queries in seeded order, one fresh Context
    per query: build the plan (``ref`` phase, which runs any eager barrier
    jobs), then the whole-row hash action (``action`` phase)."""

    uses_corpus = True

    def __init__(self, name: str, models: list[str], via_sql: bool):
        self.name = name
        self.models = models
        self.via_sql = via_sql

    def run_pass(self, b, tag: str) -> dict:
        from dbt_tpch_spark.plans import Context

        order = list(self.models)
        random.Random(f"{b.seed}/{tag}").shuffle(order)
        ops, fps, frames, errors = {}, {}, {}, {}
        with b.tracer.span("pass") as p:
            for name in order:
                with b.tracer.span("op", op=name) as s:
                    try:
                        ctx = Context(b.spark, b.data_dir)
                        with b.tracer.span("plans.ref", phase="ref"):
                            df = (
                                ctx.sql(f"SELECT * FROM {name}")
                                if self.via_sql
                                else ctx.ref(name)
                            )
                        with b.tracer.span("plans.action", phase="action"):
                            fps[name] = spark_fingerprint(df)
                        frames[name] = df
                    except Exception as exc:
                        errors[name] = repr(exc)
                        b.log(f"{name}: {traceback.format_exc()}")
                ops[name] = s.seconds
        return {"wall": p.seconds, "ops": ops, "fps": fps, "frames": frames, "errors": errors}

    def finish(self, b, res: dict) -> None:
        pass

    def check_warmup(self, b, res: dict) -> set[str]:
        ok = [n for n in self.models if n in res["frames"]]
        return set(res["errors"]) | _oracle_mismatches(b, res["frames"], ok)

    def check_timed(self, b, res: dict, warm: dict) -> set[str]:
        return {n for n in res["ops"] if res["fps"].get(n) != warm["fps"].get(n)}

    def layer_metrics(self, b, res: dict) -> dict:
        from dbt_tpch_spark.plans import MODELS

        out: dict[str, float] = {}
        for name, sec in res["ops"].items():
            if MODELS[name].layer == "operators":
                key = f"operators.{MODELS[name].fn.__module__.rsplit('.', 1)[-1]}_s"
                out[key] = out.get(key, 0.0) + sec
        return out


class DagBuild:
    """``build_warehouse`` of every table-model in ``DAG_LAYERS`` into a
    fresh directory, ``parallelism`` = cores, dispatch in the engine's own
    topological order (no cost hint). An op is one table."""

    name = "dag_build"
    uses_corpus = True

    def run_pass(self, b, tag: str) -> dict:
        from dbt_tpch_spark.warehouse import build_warehouse

        out = os.path.join(b.work, f"warehouse-{tag}")
        timings: dict = {}
        errors = {}
        with b.tracer.span("pass") as p:
            with b.tracer.span("warehouse.build_warehouse", op="build", phase="build"):
                try:
                    paths = build_warehouse(
                        b.spark,
                        b.data_dir,
                        out,
                        parallelism=b.nproc,
                        layers=DAG_LAYERS,
                        timings=timings,
                    )
                except Exception as exc:
                    errors["build"] = repr(exc)
                    b.log(f"build: {traceback.format_exc()}")
                    paths = {}
        ops = dict(timings.get("tables", {}))
        # a table that never got a wall failed with the build
        from dbt_tpch_spark.plans import MODELS

        for name, spec in MODELS.items():
            if spec.materialization == "table" and spec.layer in DAG_LAYERS:
                if name not in ops:
                    ops[name] = p.seconds
                    errors.setdefault(name, "not built")
        return {
            "wall": p.seconds,
            "ops": ops,
            "paths": paths,
            "errors": errors,
            "timings": timings,
        }

    def finish(self, b, res: dict) -> None:
        # artifact files are read back directly: no Spark job after the pass
        res["fps"] = {}
        for name, path in res["paths"].items():
            t = pq.read_table(path)
            res["fps"][name] = fingerprint(zip(*(c.to_pylist() for c in t.columns)))

    def check_warmup(self, b, res: dict) -> set[str]:
        from dbt_tpch_spark.plans import Context

        names = sorted(res["paths"])
        rng = random.Random(b.seed)
        frames = {n: b.spark.read.parquet(res["paths"][n]) for n in names}
        sample = rng.sample(names, min(ORACLE_CHECKS, len(names)))
        bad = set(res["errors"]) | _oracle_mismatches(b, frames, sample)
        # the materialized artifact must equal the model built lazily from
        # the sources (no table boundary changes a result)
        for name in rng.sample(names, min(LAZY_CHECKS, len(names))):
            lazy = spark_fingerprint(Context(b.spark, b.data_dir).ref(name))
            built = spark_fingerprint(frames[name])
            if lazy != built:
                b.log(f"lazy mismatch {name}: {lazy} != {built}")
                bad.add(name)
        return bad

    def check_timed(self, b, res: dict, warm: dict) -> set[str]:
        return set(res["errors"]) | {
            n for n in res["ops"] if res["fps"].get(n) != warm["fps"].get(n)
        }

    def layer_metrics(self, b, res: dict) -> dict:
        from dbt_tpch_spark.plans import MODELS

        t = res["timings"]
        out = {f"models.{layer}_s": 0.0 for layer in DAG_LAYERS}
        for name, sec in t.get("tables", {}).items():
            out[f"models.{MODELS[name].layer}_s"] += sec
        levels = [lv["sec"] for lv in t.get("levels", [])]
        for i, sec in enumerate(levels[:3]):
            out[f"warehouse.level{i}_s"] = sec
        if levels:
            out["warehouse.lane_idle_frac"] = 1.0 - sum(
                t["tables"].values()
            ) / (b.nproc * sum(levels))
        return out


class IngestRefresh:
    """Writes beside reads. Each batch: land its event files and drain them
    through the streaming dedup (availableNow, persistent checkpoint);
    upsert the drained events plus the batch's restatements into the events
    table (``TxnTable.merge`` on ``event_id``); append the batch's documents
    and run them through ``incremental_dedup_batch`` against the band-index
    table, then append the new bands; compact the events table every
    ``COMPACT_EVERY`` batches; read a report over the new snapshot. An op is
    one batch cycle."""

    name = "ingest_refresh"
    uses_corpus = False
    N_BATCHES = 2
    N_EVENTS = 8000
    N_DOCS = 400
    COMPACT_EVERY = 2
    REPORT_SQL = (
        "SELECT event_type, COUNT(*) AS n, "
        "SUM(CAST(value AS DECIMAL(18, 2))) AS total "
        "FROM events_snapshot GROUP BY event_type"
    )

    def __init__(self):
        self.batches = None
        self.expected_pairs = None

    def _batches(self, b) -> list[dict]:
        if self.batches is None:
            self.batches = gen.ingest_batches(
                b.seed, self.N_BATCHES, self.N_EVENTS, self.N_DOCS
            )
        return self.batches

    def run_pass(self, b, tag: str) -> dict:
        from dbt_tpch_spark.operators.dedup import incremental_dedup_batch
        from dbt_tpch_spark.plans import Context
        from dbt_tpch_spark.streaming.windows import streaming_dedup_by_event_id
        from dbt_tpch_spark.tableformat import TxnTable

        spark = b.spark
        root = os.path.join(b.work, f"ingest-{tag}")
        landing = os.path.join(root, "landing")
        os.makedirs(os.path.join(landing, "events.parquet"))
        os.makedirs(os.path.join(landing, "docs"))
        ckpt = os.path.join(root, "checkpoint")
        paths = {t: os.path.join(root, t) for t in ("events", "docs", "bands")}
        events = docs = bands = None
        ops, commit, read, errors = {}, [], [], {}
        reports, pairs, merges, progress = [], [], [], []
        landed_bytes = 0
        with b.tracer.span("pass") as p:
            for k, batch in enumerate(self._batches(b)):
                op = f"batch{k}"
                with b.tracer.span("op", op=op) as s:
                    try:
                        with b.tracer.span("land"):
                            ev_file = os.path.join(landing, "events.parquet", f"part-{k:05d}.parquet")
                            doc_file = os.path.join(landing, "docs", f"part-{k:05d}.parquet")
                            pq.write_table(batch["events"], ev_file)
                            pq.write_table(batch["documents"], doc_file)
                            landed_bytes += os.path.getsize(ev_file) + os.path.getsize(doc_file)
                        t_handed = b.tracer.now()
                        drained = []
                        with b.tracer.span("streaming.drain", phase="drain"):
                            q = (
                                streaming_dedup_by_event_id(spark, landing)
                                .writeStream.foreachBatch(
                                    lambda df, _id: drained.append(df.localCheckpoint(eager=True))
                                )
                                .option("checkpointLocation", ckpt)
                                .trigger(availableNow=True)
                                .start()
                            )
                            q.awaitTermination()
                        progress.extend(q.recentProgress)
                        updates = spark.createDataFrame(
                            batch["restated"].to_pandas(), schema=drained[0].schema
                        )
                        for d in drained:
                            updates = updates.unionByName(d)
                        # the batch commits as one file per core, like the
                        # corpus layout (the stream's state partitioning
                        # would otherwise set the file count)
                        updates = updates.coalesce(b.nproc)
                        if events is None:
                            with b.tracer.span("tableformat.create", phase="merge"):
                                events = TxnTable.create(spark, paths["events"], updates, key_cols=["event_id"])
                        else:
                            with b.tracer.span("tableformat.merge", phase="merge"):
                                merges.append(events.merge(updates, key_cols=["event_id"]))
                        inc = spark.read.parquet(doc_file)
                        with b.tracer.span("tableformat.append", phase="append_docs"):
                            if docs is None:
                                docs = TxnTable.create(spark, paths["docs"], inc)
                            else:
                                docs.append(inc)
                        with b.tracer.span("operators.dedup_inc", phase="ref"):
                            history = (
                                bands.read()
                                if bands is not None
                                else spark.createDataFrame([], "doc_id long, band_idx int, band_hash string")
                            )
                            verified, inc_bands = incremental_dedup_batch(
                                inc, history, docs.read(), n_parts=b.nproc
                            )
                        with b.tracer.span("operators.dedup_pairs", phase="action"):
                            pairs.extend(verified.collect())
                        with b.tracer.span("tableformat.append", phase="append_bands"):
                            if bands is None:
                                bands = TxnTable.create(spark, paths["bands"], inc_bands)
                            else:
                                bands.append(inc_bands)
                        commit.append(b.tracer.now() - t_handed)
                        if (k + 1) % self.COMPACT_EVERY == 0:
                            with b.tracer.span("tableformat.compact", phase="compact"):
                                events.compact()
                        with b.tracer.span("report") as r:
                            with b.tracer.span("tableformat.snapshot", phase="snapshot"):
                                events.read().createOrReplaceTempView("events_snapshot")
                            with b.tracer.span("plans.ref", phase="ref"):
                                df = Context(spark, landing).sql(self.REPORT_SQL)
                            with b.tracer.span("plans.action", phase="action"):
                                reports.append(df.collect())
                        read.append(r.seconds)
                    except Exception as exc:
                        errors[op] = repr(exc)
                        b.log(f"{op}: {traceback.format_exc()}")
                ops[op] = s.seconds
                if op in errors:
                    break  # later batches depend on this one's commits
        for k in range(len(ops), self.N_BATCHES):
            errors[f"batch{k}"] = "not run"
        return {
            "wall": p.seconds,
            "ops": ops,
            "errors": errors,
            "commit": commit,
            "read": read,
            "reports": reports,
            "pairs": pairs,
            "merges": merges,
            "progress": progress,
            "landed_bytes": landed_bytes,
            "tables": {"events": events, "docs": docs, "bands": bands},
        }

    def finish(self, b, res: dict) -> None:
        events = res["tables"]["events"]
        res["snapshot"] = events.read().collect() if events is not None else []

    def _expected_pairs(self, b) -> set:
        import __spark_entry__

        docs_file = os.path.join(b.work, "ingest_documents.parquet")
        if not os.path.exists(docs_file):
            pq.write_table(
                pa.concat_tables([x["documents"] for x in self._batches(b)]), docs_file
            )
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_file}')")
            rows = con.execute(__spark_entry__.oracle_sql()["dedup_minhash_lsh"]).fetchall()
        finally:
            con.close()
        # (doc_a, doc_b, intersection_size, union_size, jaccard)
        return {(min(r[0], r[1]), max(r[0], r[1]), r[2], r[3], r[4]) for r in rows}

    def _check(self, b, res: dict) -> set[str]:
        """Every report equals the fold of the batches so far, the final
        snapshot equals the fold of all batches, and the pairs found batch
        by batch equal the full-corpus LSH pairs."""
        batches = self._batches(b)
        bad = set(res["errors"])
        for k, rows in enumerate(res["reports"]):
            want: dict[str, tuple[int, int]] = {}
            for row in gen.fold_events(batches, k).values():
                n, cents = want.get(row[3], (0, 0))
                want[row[3]] = (n + 1, cents + round(row[4] * 100))
            got = {r["event_type"]: (r["n"], int(r["total"] * 100)) for r in rows}
            if got != want:
                b.log(f"report mismatch batch{k}: {got} != {want}")
                bad.add(f"batch{k}")
        last = f"batch{self.N_BATCHES - 1}"
        if not bad:
            cols = batches[0]["events"].column_names
            got = fingerprint(tuple(r[c] for c in cols) for r in res["snapshot"])
            want = fingerprint(gen.fold_events(batches, self.N_BATCHES - 1).values())
            if got != want:
                b.log(f"snapshot mismatch: {got} != {want}")
                bad.add(last)
            found = {
                (
                    min(r["doc_inc"], r["doc_other"]),
                    max(r["doc_inc"], r["doc_other"]),
                    r["intersection_size"],
                    r["union_size"],
                    r["jaccard"],
                )
                for r in res["pairs"]
            }
            if self.expected_pairs is None:
                self.expected_pairs = self._expected_pairs(b)
            if len(found) != len(res["pairs"]) or found != self.expected_pairs:
                b.log(f"pair set mismatch: {len(res['pairs'])} pairs found")
                bad.add(last)
        return bad

    def check_warmup(self, b, res: dict) -> set[str]:
        return self._check(b, res)

    def check_timed(self, b, res: dict, warm: dict) -> set[str]:
        return self._check(b, res)

    def layer_metrics(self, b, res: dict) -> dict:
        prog = res["progress"]
        rewritten = sum(m["files_rewritten"] for m in res["merges"])
        touched = rewritten + sum(m["files_skipped"] for m in res["merges"])
        added = 0
        for t in res["tables"].values():
            for c in t.history() if t is not None else ():
                if c["operation"] != "compact":
                    added += sum(
                        os.path.getsize(os.path.join(t.path, a["file"])) for a in c["adds"]
                    )
        events = res["tables"]["events"]
        return {
            "streaming.batches": float(len(prog)),
            "streaming.batch_s": sum(
                pr["durationMs"].get("triggerExecution", 0) for pr in prog
            ) / 1e3,
            "streaming.rows_in": float(sum(pr["numInputRows"] for pr in prog)),
            "streaming.rows_out": float(
                sum(so["numRowsUpdated"] for pr in prog for so in pr["stateOperators"])
            ),
            "streaming.state_rows": float(
                max(
                    (so["numRowsTotal"] for pr in prog for so in pr["stateOperators"]),
                    default=0,
                )
            ),
            "tableformat.files_rewritten_frac": rewritten / touched if touched else 0.0,
            "tableformat.write_amp": added / res["landed_bytes"],
            "tableformat.live_files": float(
                len(events.snapshot_files()) if events is not None else 0
            ),
            "operators.dedup_pairs": float(len(res["pairs"])),
            "ingest.commit_p50_s": statistics.median(res["commit"]) if res["commit"] else 0.0,
            "ingest.read_p50_s": statistics.median(res["read"]) if res["read"] else 0.0,
        }


def make(name: str):
    from dbt_tpch_spark.plans import MODELS

    if name == "tpch_power":
        models = sorted(n for n in MODELS if n.startswith("tpch_q")) + [
            "rpt_pricing_summary",
            "rpt_minimum_cost_suppliers_adapted",
        ]
        return QueryWorkload(name, models, via_sql=True)
    if name == "llm_pipeline":
        return QueryWorkload(name, list(LLM_PIPELINE), via_sql=False)
    if name == "dag_build":
        return DagBuild()
    if name == "ingest_refresh":
        return IngestRefresh()
    raise KeyError(name)


WORKLOADS = ("tpch_power", "dag_build", "llm_pipeline", "ingest_refresh")
