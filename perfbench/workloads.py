"""The benchmark's workloads.

A workload writes its inputs from the seed (``stage``, timed in set-up),
computes what its checks compare against (``prepare``, untimed), warms up,
then runs one operation at a time (closed loop, one client): ``before_op``
untimed, ``op`` timed. ``check`` runs the cheap checks on every operation
and ``final_check`` the heavy ones once per run, untimed. For a traced run, ``layer_metrics`` reads the
operation's spans, ``trace_extra`` times the untimed prefix cuts,
``cut_metrics`` turns them into layer metrics and ``trace_once`` adds what
is counted once per run. Layers are reached only through their public
functions.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb

import inputs

#: log_show views answered for every sink after each increment.
VIEWS = ("request", "trend", "error")


def _now() -> float:
    return time.monotonic()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _answer(spark, cat) -> dict:
    """``log_show``'s :data:`VIEWS` for every sink, collected."""
    from abs_log_spark.plans.pipeline import routed_sinks
    from jobs.log_show import build_view, table_for_view

    return {
        (sink, view): build_view(
            cat.read(spark, table_for_view(sink, view)), view, sink=sink
        ).collect()
        for sink in routed_sinks(cat)
        for view in VIEWS
    }


class PipelineIncrement:
    """Ingest the newest bucket into a compacted, checkpointed warehouse,
    expire the oldest bucket, answer the report views."""

    name = "pipeline_increment"
    #: rows per bucket: small history buckets keep the snapshot build short;
    #: the increment is the size of one sf0.1 bucket (2M rows / 16)
    sizes = [3_000] * 7 + [125_000]
    last = str(len(sizes) - 1)

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.input = os.path.join(work, "input")
        self.snapshot = os.path.join(work, "snapshot")
        self.wh = os.path.join(work, "warehouse")
        self.ops = 0

    # -- setup ---------------------------------------------------------------
    def stage(self) -> None:
        """Write the input table, partitioned by ``part_bucket`` (the layout
        ``filter_pending`` prunes)."""
        self.counts = inputs.write_sequences(self.input, self.sizes, self.seed)

    def prepare(self) -> None:
        """Nothing: the checks compare with counts ``stage`` returns."""

    def warm_up(self, spark) -> None:
        """Build the warehouse snapshot every operation starts from: a fresh
        ``run_pipeline`` over every bucket but the last (compacted and
        checkpointed by the pipeline itself). Then expire and answer the
        views once on a copy of it, so that the timed operations are not the
        first to run those paths."""
        from pyspark.sql import functions as F

        from abs_log_spark.catalog import Catalog
        from abs_log_spark.operators.retention import expire_buckets
        from abs_log_spark.plans.pipeline import run_pipeline
        from abs_log_spark.sources.synth import gen_sources_dim

        self.seq = spark.read.parquet(self.input)
        self.dim = gen_sources_dim(spark)
        history = self.seq.where(F.col("part_bucket") != int(self.last))
        run_pipeline(spark, Catalog(root=self.snapshot), history, self.dim, run_id="history")
        self.before_op()
        cat = Catalog(root=self.wh)
        expire_buckets(spark, cat, ["0"])
        _answer(spark, cat)

    # -- the operation -------------------------------------------------------
    def before_op(self) -> None:
        shutil.rmtree(self.wh, ignore_errors=True)
        shutil.copytree(self.snapshot, self.wh)

    def op(self, spark, tr) -> dict:
        from abs_log_spark.catalog import Catalog
        from abs_log_spark.operators.retention import expire_buckets
        from abs_log_spark.plans.pipeline import run_pipeline

        self.ops += 1
        cat = Catalog(root=self.wh)
        with tr.span("pipeline"):
            vals = run_pipeline(spark, cat, self.seq, self.dim, run_id=f"inc{self.ops}")
        t1 = _now()
        with tr.span("retention"):
            dropped = expire_buckets(spark, cat, ["0"])
        t2 = _now()
        with tr.span("report"):
            answers = _answer(spark, cat)
        t3 = _now()
        tm = vals["timings"]
        freshness = sum(
            tm[k] for k in ("setup", "routed_write", "promote", "agg_partials",
                            "compact", "aggregate")
        )
        return {
            "vals": vals, "dropped": dropped, "answers": answers,
            "freshness_s": freshness, "expire_s": t2 - t1, "report_s": t3 - t2,
        }

    def rows_per_s(self, res: dict, wall: float) -> float:
        """Ingest throughput: increment rows over the time until the
        summaries are rewritten."""
        return self.counts[self.last][0] / res["freshness_s"]

    def e2e_extras(self, res: dict) -> dict[str, float]:
        """The workload's own end-to-end figures (per-layer in the contract,
        since the other workload has no such phases)."""
        return {
            "freshness_s": res["freshness_s"], "expire_s": res["expire_s"],
            "report_s": res["report_s"],
            "stored_bytes_per_input_byte":
                inputs.dir_bytes(self.wh) / inputs.dir_bytes(self.input),
        }

    # -- checks --------------------------------------------------------------
    def check(self, res: dict) -> list[str]:
        n_inc, bad_inc = self.counts[self.last]
        v = res["vals"]
        errs = []
        for key, want in (("rows_in", n_inc), ("rows_routed", n_inc),
                          ("rows_invalid", bad_inc), ("rows_valid", n_inc - bad_inc),
                          ("rows_agg_input", n_inc), ("buckets_processed", 1)):
            if v.get(key) != want:
                errs.append(f"{key}={v.get(key)} want {want}")
        if res["dropped"].get("partials_subtracted") != 1:
            errs.append(f"expiry subtracted {res['dropped']}")
        live = [c for b, c in self.counts.items() if b != "0"]
        pv, invalid = duckdb.sql(
            f"""SELECT sum(pv), sum(invalid_hits) FROM read_parquet(
                    '{self.wh}/minute_agg_*/*/*.parquet', hive_partitioning = false)"""
        ).fetchone()
        want_pv = sum(n - bad for n, bad in live)
        if (pv, invalid) != (want_pv, sum(bad for _, bad in live)):
            errs.append(f"summaries pv={pv} invalid={invalid} want pv={want_pv}")
        for key, rows in res["answers"].items():
            if not rows:
                errs.append(f"empty report {key}")
        return errs

    def final_check(self) -> list[str]:
        """Tokens byte-identical between input and routed tables for every
        live bucket, and the summary tables equal to a DuckDB recomputation
        from the routed rows."""
        # routed rows carry no sink column: the table name is the sink
        routed = f"""(SELECT *, regexp_extract(filename, 'routed_([^/]+)/', 1) AS sink
                      FROM read_parquet('{self.wh}/routed_*/*/*.parquet',
                                        hive_partitioning = true, filename = true))"""
        source = f"read_parquet('{self.input}/*/*.parquet', hive_partitioning = true)"
        errs = []
        n_in, n_routed, same = duckdb.sql(
            f"""SELECT (SELECT count(*) FROM {source} WHERE part_bucket <> 0),
                       (SELECT count(*) FROM {routed}),
                       (SELECT count(*) FROM {source} s JOIN {routed} r
                          ON r.doc_id = s.doc_id AND r.tokens = s.tokens)"""
        ).fetchone()
        if not n_in == n_routed == same:
            errs.append(f"tokens: input {n_in}, routed {n_routed}, identical {same}")
        want = duckdb.sql(
            f"""SELECT sink, site, date_trunc('minute', ts) AS minute, uri_abs,
                       CAST(sum(CASE WHEN valid THEN 1 ELSE 0 END) AS BIGINT),
                       CAST(coalesce(sum(bytes), 0) AS BIGINT),
                       round(min(rt), 6), round(max(rt), 6),
                       round(quantile_cont(rt, 0.25), 6), round(quantile_cont(rt, 0.5), 6),
                       round(quantile_cont(rt, 0.75), 6),
                       CAST(sum(CASE WHEN status >= 400 THEN 1 ELSE 0 END) AS BIGINT),
                       CAST(sum(CASE WHEN valid THEN 0 ELSE 1 END) AS BIGINT)
                FROM {routed} GROUP BY 1, 2, 3, 4"""
        ).fetchall()
        got = duckdb.sql(
            f"""SELECT sink, site, minute, uri_abs, pv, bytes_sum,
                       round(rt_min, 6), round(rt_max, 6), round(rt_p25, 6),
                       round(rt_p50, 6), round(rt_p75, 6), err_hits, invalid_hits
                FROM read_parquet('{self.wh}/minute_agg_*/*/*.parquet',
                                  hive_partitioning = false)"""
        ).fetchall()
        if sorted(want, key=repr) != sorted(got, key=repr):
            errs.append(f"summaries differ from recomputation ({len(got)} vs {len(want)} rows)")
        return errs

    # -- traced run ----------------------------------------------------------
    def layer_metrics(self, res: dict, tr) -> dict[str, float]:
        v, tm = res["vals"], res["vals"]["timings"]
        return {
            **self.e2e_extras(res),
            **{f"pipeline.{k}_s": tm[k] for k in
               ("routed_write", "promote", "agg_partials", "compact", "aggregate")},
            "pipeline.setup_phase_s": tm["setup"],
            "parse.rows": v["rows_routed"],
            "parse.invalid_rows": v["rows_invalid"],
            "catalog.write_s": tr.walls("catalog.write"),
            "catalog.write_calls": tr.count("catalog.write"),
            "catalog.promote_s": tr.walls("catalog.promote"),
            "checkpoint.s": tr.walls("checkpoint"),
            "checkpoint.calls": tr.count("checkpoint"),
            "aggregate.input_rows": v["rows_agg_input"],
            "aggregate.partials_rows": duckdb.sql(
                f"SELECT count(*) FROM read_parquet('{self.wh}/agg_partials/*/*.parquet')"
            ).fetchone()[0],
            "aggregate.self_s": tm["agg_partials"] + tm["compact"] + tm["aggregate"],
            "retention.subtract_s": tr.walls("retention.subtract"),
            "retention.rebuild_s": tr.walls("aggregate.rebuild", within="retention"),
        }

    def cut_metrics(self, cuts: dict, counters: dict, res: dict) -> dict[str, float]:
        return {
            **_scan_metrics(cuts, counters, res["vals"]["rows_in"]),
            "parse.self_s": cuts["parse"] - cuts["sources"],
            "enrich.self_s": cuts["enrich"] - cuts["parse"],
        }

    def trace_once(self, spark, per_layer: dict) -> dict[str, float]:
        return {}

    def trace_extra(self, spark, tr) -> dict:
        """Prefix cuts over the increment (untimed, noop sink): scan, then
        scan + ``parse_arrow``, then ``transform``."""
        from abs_log_spark.functions.parse import parse_arrow
        from abs_log_spark.plans import checkpoint as ckpt
        from abs_log_spark.plans.pipeline import transform

        done = set(self.counts) - {self.last}
        pending = ckpt.filter_pending(self.seq, done)
        cuts = {}
        for name, df in (("sources", pending), ("parse", parse_arrow(pending)),
                         ("enrich", transform(pending, self.dim))):
            t0 = _now()
            with tr.span(name):
                _noop(df)
            cuts[name] = _now() - t0
        return cuts


#: the timed operation: registry query -> its per-layer wall metric.
#: ``curation_dup_clusters`` runs ``minhash_lsh_pairs`` (the arguments of
#: ``dedup_minhash_lsh``) and then clusters the pairs.
DEDUP_OP = {"curation_dup_clusters": "curation.dup_clusters_s"}
#: timed as cuts in traced runs only, each checked against its oracle like
#: the operation (the run budget leaves no room for them in every run)
DEDUP_CUTS = {"dedup_minhash_lsh": "dedup.minhash_lsh_s", "dedup_simhash": "dedup.simhash_s"}
MINHASH = "dedup_minhash_lsh"


def _checksum_sql(cols: list[str]) -> list[str]:
    """Order-insensitive checksum terms over numeric result columns, for
    DuckDB; :func:`_checksum_cols` is the Spark twin."""
    scaled = [f"CAST(round({c} * 1e6) AS BIGINT)" for c in cols]
    return ["count(*)"] + [f"sum({s})" for s in scaled] + [
        f"sum(({scaled[0]} % 1000003) * ({scaled[1]} % 1000003))"
    ]


def _checksum_cols(cols: list[str]):
    from pyspark.sql import functions as F

    scaled = [F.round(F.col(c) * 1e6).cast("long") for c in cols]
    return [F.count(F.lit(1))] + [F.sum(s) for s in scaled] + [
        F.sum(F.pmod(scaled[0], F.lit(1000003)) * F.pmod(scaled[1], F.lit(1000003)))
    ]


def _clusters(pairs: list[tuple[int, int]], ids: list[int], rounds: int = 2):
    """``curation_dup_clusters``' oracle from its pair set: the same rounds
    of synchronous min-label propagation, then clusters of two or more.
    Traced runs compare it with the query's own ``oracle_sql()``, which
    takes DuckDB several seconds."""
    nbrs: dict[int, list[int]] = {}
    for a, b in pairs:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    label = {i: i for i in ids}
    for _ in range(rounds):
        label = {i: min([label[i]] + [label[j] for j in nbrs.get(i, ())]) for i in ids}
    sizes: dict[int, int] = {}
    for c in label.values():
        sizes[c] = sizes.get(c, 0) + 1
    return [(c, n) for c, n in sizes.items() if n > 1]


class DedupCuration:
    """The costliest registry query on this host, ``curation_dup_clusters``,
    through ``queries()`` to the noop sink, then ``cache.release_all()``."""

    name = "dedup_curation"
    docs = 5000  # the sf0.1 documents table's size

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.sf = os.path.join(work, "sf")
        self.path = os.path.join(self.sf, "documents.parquet")

    def _duckdb(self):
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.path}')")
        return con

    def _oracle(self, con, q: str, sql: str | None = None) -> None:
        sql = sql or self.reg[q][1]
        self.cols[q] = [d[0] for d in con.execute(f"SELECT * FROM ({sql}) LIMIT 0").description]
        self.want[q] = tuple(
            int(x or 0) for x in con.execute(
                f"SELECT {', '.join(_checksum_sql(self.cols[q]))} FROM ({sql})"
            ).fetchone()
        )

    def stage(self) -> None:
        """Write the documents fixture the queries read."""
        os.makedirs(self.sf)
        inputs.write_documents(self.path, self.docs, self.seed)

    def prepare(self) -> None:
        """The oracle checksums, from the queries' ``oracle_sql()`` in
        DuckDB."""
        from abs_log_spark.queries import load_all

        self.reg = load_all()
        self.want, self.cols = {}, {}
        with self._duckdb() as con:
            # the pair set is the costly part: evaluate it once
            con.execute(f"CREATE TABLE pairs AS {self.reg[MINHASH][1]}")
            self._oracle(con, MINHASH, "SELECT * FROM pairs")
            pairs = con.execute("SELECT doc_a, doc_b FROM pairs").fetchall()
            ids = [i for (d,) in con.execute("SELECT doc_id FROM documents").fetchall()
                   for i in (d, d + 1_000_000)]  # with_near_dup_copies' ids
            con.execute("CREATE TABLE clusters (cluster_id BIGINT, n_members BIGINT)")
            con.executemany("INSERT INTO clusters VALUES (?, ?)", _clusters(pairs, ids))
            self._oracle(con, "curation_dup_clusters", "SELECT * FROM clusters")

    def warm_up(self, spark) -> None:
        from spans import NULL

        self.op(spark, NULL)

    def before_op(self) -> None:
        pass

    def _run(self, spark, tr, q: str, res: dict) -> None:
        """One registry query to the noop sink, its checksum observed on the
        way, then the release of what it persisted."""
        from pyspark.sql import Observation

        from abs_log_spark import cache

        t0 = _now()
        with tr.span(q.replace("_", ".", 1)):
            obs = Observation()
            df = self.reg[q][0](spark, self.sf).observe(obs, *_checksum_cols(self.cols[q]))
            _noop(df)
            if tr.active:  # persisted blocks peak just before their release
                res["storage_mb"] = max(res["storage_mb"], _storage_mb(spark))
            res["released"] += cache.release_all()
        res["walls"][q] = _now() - t0
        res["sums"][q] = tuple(int(x or 0) for x in obs.get.values())

    def op(self, spark, tr) -> dict:
        res = {"walls": {}, "sums": {}, "released": 0, "storage_mb": 0.0}
        for q in DEDUP_OP:
            self._run(spark, tr, q, res)
        return res

    def rows_per_s(self, res: dict, wall: float) -> float:
        """Documents clustered per second: the originals and their near-dup
        copies."""
        return 2 * self.docs / wall

    def e2e_extras(self, res: dict) -> dict[str, float]:
        return {}

    def check(self, res: dict) -> list[str]:
        return [
            f"{q}: checksum {got} != oracle {self.want[q]}"
            for q, got in res["sums"].items() if got != self.want[q]
        ]

    def final_check(self) -> list[str]:
        return []  # every operation is already compared with the oracle

    def layer_metrics(self, res: dict, tr) -> dict[str, float]:
        return {
            **{DEDUP_OP[q]: w for q, w in res["walls"].items()},
            "cache.blocks_released": res["released"],
            "cache.storage_peak_mb": res["storage_mb"],
        }

    def trace_extra(self, spark, tr) -> dict:
        """Cuts: the documents scan, then the :data:`DEDUP_CUTS` queries."""
        from abs_log_spark.sources.readers import read_table

        t0 = _now()
        with tr.span("sources"):
            _noop(read_table(spark, self.sf, "documents", spread=True))
        cuts = {"sources": _now() - t0}
        if "dedup_simhash" not in self.want:
            with self._duckdb() as con:
                self._oracle(con, "dedup_simhash")
        res = {"walls": {}, "sums": {}, "released": 0, "storage_mb": 0.0}
        for q in DEDUP_CUTS:
            self._run(spark, tr, q, res)
        cuts.update(res)
        return cuts

    def cut_metrics(self, cuts: dict, counters: dict, res: dict) -> dict[str, float]:
        errs = self.check(cuts)
        if errs:
            raise RuntimeError(errs)
        return {
            **_scan_metrics(cuts, counters, self.docs),
            **{DEDUP_CUTS[q]: w for q, w in cuts["walls"].items()},
            "dedup.confirmed_pairs": cuts["sums"][MINHASH][0],
        }

    def trace_once(self, spark, per_layer: dict) -> dict[str, float]:
        """Untimed, traced runs only: the LSH candidate pairs
        (``minhash_lsh_pairs`` with the verify threshold at 0 keeps every
        candidate), and ``curation_dup_clusters``' own ``oracle_sql()``
        against the checksum the operations were held to."""
        from abs_log_spark import cache
        from abs_log_spark.operators.dedup import minhash_lsh_pairs, with_near_dup_copies
        from abs_log_spark.sources.readers import read_table

        docs = with_near_dup_copies(read_table(spark, self.sf, "documents", spread=True))
        n = minhash_lsh_pairs(docs, min_jaccard=0.0, materialize_shingles=False).count()
        cache.release_all()
        q = "curation_dup_clusters"
        want = self.want[q]
        with self._duckdb() as con:
            self._oracle(con, q)
        if self.want[q] != want:
            raise RuntimeError(f"{q}: oracle_sql {self.want[q]} != propagation {want}")
        return {
            "dedup.candidate_pairs": n,
            "dedup.pair_yield": per_layer.get("dedup.confirmed_pairs", 0.0) / n if n else 0.0,
        }


def _scan_metrics(cuts: dict, counters: dict, rows_in: int) -> dict[str, float]:
    """The ``sources`` cut: its wall, the rows and tasks its scan stages
    report, and the share of scanned rows the operation used."""
    scan = counters.get("sources", {})
    rows = scan.get("input_rows", 0.0)
    return {
        "sources.scan_s": cuts["sources"],
        "sources.scan_rows": rows,
        "sources.scan_tasks": scan.get("tasks", 0.0),
        "sources.useful_row_ratio": rows_in / rows if rows else 0.0,
    }


def _storage_mb(spark) -> float:
    """Executor storage memory in use (persisted blocks), from the status
    store."""
    execs = spark._jsc.sc().statusStore().executorList(True)
    return sum(execs.apply(i).memoryUsed() for i in range(execs.size())) / 2**20


WORKLOADS = {w.name: w for w in (PipelineIncrement, DedupCuration)}
