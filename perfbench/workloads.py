"""The benchmark's workloads: single-client closed loops that drive
the engine only through its public entry points (``get_spark``,
``optimize_layout``, ``REGISTRY[name](spark, dir)``,
``stream_all_summaries``) and check every answer against DuckDB.

- ``query``: a fixed list of registered queries, served and raw,
  after ``optimize_layout``.
- ``ingest``: held-back events replayed in ``ts`` order through the
  streaming fold, one served read per batch.

Each workload runs its set-up once, one untimed warm-up pass (or
batch), then whole passes until the run's seconds are used. The seed
orders the operations and, for ``ingest``, places the batch
boundaries. The traced run of ``query`` ends with one pass over the
curation and dedup pipelines (``CURATE_OPS``).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import statistics
import time
from contextlib import contextmanager, nullcontext

from tracing import GROUP_PREFIX, Tracer, attribute, parse_event_log

QUERY_OPS = (
    "q1_pricing_summary j1_equi_join j2_enrichment_chain j5_asof_join "
    "a16_rollup_revenue w4_last_n_per_key s5_point_read s6_filtered_find "
    "a1_daily_rollup a2_window_totals a3_ewma a5_type_profile "
    "a6_rep_blacklists a7_total_reputation op_merge_snapshot w1_topk "
    "hh_users_min_count quantile_event_values funnel_stages "
    "cohort_retention ann_cosine_topk multimodal_bytes"
).split()

# the curation and dedup pipelines: plans built through many eager
# driver-side jobs (queries.dataprep) and shingle shuffles
# (operators.dedup, operators.components). Their DuckDB oracles take
# up to 20 s each, so their answers are checked against digests
# (OracleDigests).
CURATE_OPS = (
    "corpus_curation_v4 corpus_curation_v3 dedup_minhash_lsh "
    "text_span_dedup dedup_ngram_jaccard dedup_containment "
    "dedup_clusters_scalable"
).split()

# every registered query answered from an ingest-maintained events
# table whose oracle is SQL over the events; after the last batch each
# must still equal it. a2_window_totals_approx is served too, but its
# oracle is a golden table pinned to the reference dataset.
FOLD_CHECKED = (
    "a11_distinct_pair_counts a1_daily_rollup a2_window_totals "
    "a3_ewma a5_type_profile a6_source_reputation "
    "a7_total_reputation cohort_retention funnel_stages hh_by_event_type "
    "hh_by_type_min_count hh_event_users hh_users_min_count "
    "op_array_upsert_rebuild op_merge_snapshot quantile_by_event_type "
    "quantile_event_values top_frequent_users w1_topk"
).split()

# the folds update_event_summaries runs, by the module attribute the
# traced run wraps; colstats is the amortized refresh after the pool
FOLDS = {
    "daily": ("layout", "update_daily_summary"),
    "window": ("layout", "update_window_summary"),
    "merged": ("layout", "update_merged_summary"),
    "funnel": ("layout", "update_funnel_summary"),
    "cohort": ("layout", "update_cohort_summary"),
    "keycount": ("layout", "update_keycount_summaries"),
    "topk": ("layout", "update_topk_summary"),
    "value_hist": ("layout", "update_value_hist_summary"),
    "colstats": ("colstats", "maybe_refresh_column_stats"),
}
POOLED = ("window", "merged", "funnel", "cohort", "keycount", "topk", "value_hist")

DUCK_REPS = 7
# two measured passes even when one outlasts the run's seconds: an
# ingest batch takes 8-13 s, and runs that measured one batch on a
# loaded host spread twice as far as runs that measured two; a traced
# run needs one traced and one untraced pass
MIN_PASSES = 2
INGEST_HOLDBACK = 0.10
INGEST_BATCHES = 8
WINDOW_TABLE = "summary_window.parquet"
DIGESTS_FILE = "oracle_digests.json"


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _p95(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=20, method="inclusive")[18]


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _vs_duck(ops) -> float:
    """Engine time of the correct ops over their comparator time."""
    ok = [o for o in ops if o["ok"]]
    duck = sum(o["duck_s"] for o in ok)
    return sum(o["latency_s"] for o in ok) / duck if duck else 0.0


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def duck_connect(data_dir: str, threads: int):
    """The oracle harness's DuckDB views, with as many threads as the
    engine has cores."""
    from nerd_spark.queries.compare import duckdb_conn

    con = duckdb_conn(data_dir)
    con.execute(f"SET threads={threads}")
    return con


def duck_time(con, sql: str, reps: int) -> float:
    """Best wall time of ``reps`` DuckDB executions of ``sql``. The
    comparator's queries take milliseconds, and on a loaded host
    contention only adds to them: with the median of 5, the
    comparator's total moved by up to 0.18 of its median from run to
    run while the engine's moved by 0.05."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        con.execute(sql).df()
        best = min(best, time.perf_counter() - t0)
    return best


def answer_digest(pdf) -> str:
    """Hash of an answer in ``compare.diff``'s normal form: two answers
    ``diff`` calls equal have the same digest."""
    from nerd_spark.queries.compare import normalize

    norm = normalize(pdf)
    h = hashlib.sha256(json.dumps(list(norm.columns)).encode())
    h.update(norm.to_csv(index=False, header=False).encode())
    return h.hexdigest()


class OracleDigests:
    """Digests of DuckDB-oracle answers, keyed by the input fingerprint
    and by query name plus a hash of its oracle SQL, so a changed input
    or oracle misses. Looked up in the committed ``oracle_digests.json``
    next to this file, then in ``cache_path``; a miss runs the oracle
    and adds its digest to ``cache_path``."""

    def __init__(self, fingerprint: str, raw_dir: str, cpus: int, cache_path: str):
        self.fp = fingerprint
        self.raw = raw_dir
        self.cpus = cpus
        self.cache_path = cache_path
        here = os.path.dirname(os.path.abspath(__file__))
        self.committed = self._load(os.path.join(here, DIGESTS_FILE))
        self.cached = self._load(cache_path)

    @staticmethod
    def _load(path: str) -> dict:
        try:
            with open(path) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {}

    def get(self, q: str) -> dict:
        from nerd_spark.queries import ORACLE

        key = f"{q}:{hashlib.sha256(ORACLE[q].encode()).hexdigest()[:16]}"
        for table in (self.committed, self.cached):
            hit = table.get(self.fp, {}).get(key)
            if hit:
                return hit
        pdf = duck_connect(self.raw, self.cpus).execute(ORACLE[q]).df()
        hit = {"digest": answer_digest(pdf), "rows": len(pdf),
               "columns": sorted(pdf.columns)}
        self.cached.setdefault(self.fp, {})[key] = hit
        with open(self.cache_path, "w") as f:
            json.dump(self.cached, f, indent=1, sort_keys=True)
        return hit

    @staticmethod
    def diff(pdf, want: dict) -> str | None:
        """None if ``pdf`` is the oracle answer ``want`` describes."""
        if sorted(pdf.columns) != want["columns"]:
            return f"columns: spark={sorted(pdf.columns)} oracle={want['columns']}"
        if len(pdf) != want["rows"]:
            return f"rowcount: spark={len(pdf)} oracle={want['rows']}"
        if answer_digest(pdf) != want["digest"]:
            return "values differ from the oracle answer (digest mismatch)"
        return None


class Run:
    """One benchmark run: the session, its set-up, the op records and
    the tracer. The workload functions below drive it."""

    def __init__(self, workload, seed, seconds, traced, raw_dir, work, cpus):
        # traced: the run records spans and the event log. Within it,
        # tracer.enabled is off in the untraced passes.
        self.workload = workload
        self.seconds = seconds
        self.traced = traced
        self.raw = raw_dir
        self.work = work
        self.cpus = cpus
        self.rng = random.Random(seed)
        self.fingerprint = ""  # of the input tables, set by the runner
        self.digest_cache = os.path.join(work, DIGESTS_FILE)
        self.tracer = Tracer(traced)
        self.spark = None
        self.stream = None
        self.data_dir = None
        self.setup_times: dict[str, float] = {}
        self.ops: list[dict] = []
        self.checks: list[dict] = []
        self.curate: list[dict] = []
        self.passes: list[float] = []
        self.event_log = os.path.join(work, "eventlog")
        self.layer: dict[str, float] = {}
        self.serve_status: list[dict] = []
        self.memory: dict[str, float] = {}
        self.t0 = time.perf_counter()
        self.phases: dict[str, float] = {}

    def mark(self, phase: str) -> None:
        """Record when ``phase`` ended, in seconds since the run began."""
        self.phases[phase] = time.perf_counter() - self.t0

    # -- session ---------------------------------------------------------

    def conf(self) -> dict:
        c = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # temp files under the run dir, and no perf-data file in /tmp
            "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
            + os.path.join(self.work, "tmp"),
        }
        if self.traced:
            os.makedirs(self.event_log, exist_ok=True)
            c.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_log,
                    "spark.eventLog.compress": "false",
                }
            )
        return c

    def stop_session(self):
        if self.stream is not None:
            self.stream.stop()
            self.stream = None
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self):
        """Stop the session, then the JVM the session started, and
        wait for it to exit."""
        self.stop_session()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def mem_peak_mb(self) -> float:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        self.memory = {
            "python_mb": _vm_hwm_kb(os.getpid()) / 1024.0,
            "jvm_mb": _vm_hwm_kb(proc.pid) / 1024.0 if proc is not None else 0.0,
        }
        return sum(self.memory.values())

    @contextmanager
    def group(self, key: str):
        """Tag the jobs this thread submits with ``key`` (traced passes
        only), so the event log attributes them to the span."""
        if not self.tracer.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(GROUP_PREFIX + key, key)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    # -- set-up ----------------------------------------------------------

    def setup(self, tables=None, after_layout=None):
        """The workload's set-up: a session, ``optimize_layout`` into a
        fresh dir, then ``after_layout`` (the ingest stream start)."""
        from nerd_spark.session import get_spark
        from nerd_spark.sources.layout import optimize_layout

        self.data_dir = os.path.join(self.work, "layout")
        with self.tracer.span("setup", op_id="setup"):
            t0 = time.perf_counter()
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}", extra_conf=self.conf()
            )
            t1 = time.perf_counter()
            with self.group("setup/layout"):
                optimize_layout(self.spark, self.raw, self.data_dir, tables=tables)
            t2 = time.perf_counter()
            if after_layout is not None:
                with self.group("setup/stream"):
                    after_layout()
            t3 = time.perf_counter()
        self.setup_times = {"session_s": t1 - t0, "layout_s": t2 - t1, "total_s": t3 - t0}
        self.mark("setup")
        if self.traced:
            from nerd_spark.sources.layout import serve_table_status

            self.serve_status = serve_table_status(self.spark, self.data_dir)
            self.layer["layout.serve_tables"] = sum(
                1 for s in self.serve_status if s["gated"]
            )

    # -- measurement -----------------------------------------------------

    def measure(self, one_pass, warmups: int = 1):
        """``warmups`` untimed passes, then whole passes until the run's
        seconds are used, and at least ``MIN_PASSES``. In a traced run
        every second pass runs untraced (one span around it, none
        inside), so the run measures its own tracing overhead.
        ``one_pass()`` returns its ops and whether the workload has
        more input. A pass's time is the sum of its ops'
        ``pass_s`` (engine time only: no answer checks, no
        comparator)."""
        with self.tracer.span("warmup", op_id="warmup"):
            for _ in range(warmups):
                one_pass()
        self.mark("warmup")
        t0 = time.perf_counter()
        k = 0
        while True:
            traced = self.traced and k % 2 == 0
            if self.traced and not traced:
                ctx = self.tracer.paused("untraced", f"untraced{k}")
            else:
                ctx = nullcontext()
            with ctx:
                ops, more = one_pass()
            for o in ops:
                o["traced"] = traced
            self.ops += ops
            self.passes.append(sum(o.get("pass_s", 0.0) for o in ops))
            k += 1
            done = time.perf_counter() - t0 >= self.seconds and k >= MIN_PASSES
            if not more or done:
                break
        self.mark("measure")

    def registry_op(self, name: str, op_id: str, check) -> dict:
        """Build and run one registered query; ``check(pdf)`` returns
        None or a mismatch description."""
        from nerd_spark.queries import REGISTRY

        op = {"op_id": op_id, "name": name, "ok": False}
        self.tracer.op_id = op_id
        with self.tracer.span("op", op_id=op_id):
            try:
                t0 = time.perf_counter()
                with self.tracer.span("build"), self.group(f"{op_id}/build"):
                    df = REGISTRY[name](self.spark, self.data_dir)
                t1 = time.perf_counter()
                with self.tracer.span("exec"), self.group(f"{op_id}/exec"):
                    pdf = df.toPandas()
                t2 = time.perf_counter()
            except Exception as e:  # an op that raises counts as failed
                op["error"] = f"{type(e).__name__}: {e}"[:500]
                return op
        op.update(build_s=t1 - t0, exec_s=t2 - t1, latency_s=t2 - t0, pass_s=t2 - t0)
        bad = check(pdf)
        op["ok"] = bad is None
        if bad:
            op["error"] = bad[:500]
        if self.tracer.enabled:
            with self.tracer.span("probe", op_id=op_id):
                op["tier_hit"] = any("/summary_" in f for f in df.inputFiles())
        return op

    # -- results ---------------------------------------------------------

    def end_to_end(self) -> dict:
        return {
            "setup_s": (self.setup_times["total_s"], "s"),
            "vs_duckdb": (_vs_duck(self.ops), "ratio"),
            "mem_peak_mb": (self.mem_peak_mb(), "MB"),
        }

    def wall_times(self) -> dict:
        """Latency and pass wall times, kept in the run record but not
        printed: on a shared host they follow its CPU speed (see
        README.md), which ``vs_duckdb`` cancels."""
        lat = [o["latency_s"] * 1000 for o in self.ops if o["ok"]]
        return {
            "op_p50_ms": _median(lat),
            "op_p95_ms": _p95(lat),
            "pass_s": _median(self.passes),
            "n_ops": len(lat),
        }

    def per_layer(self) -> dict:
        """Per-layer figures of the traced run: span times from the
        tracer, job/stage/task figures from the event log. Operation
        figures are over the traced passes; the untraced passes give
        the overhead baseline."""
        m = dict.fromkeys(PER_LAYER_UNITS, 0.0)
        m.update(self.layer)
        m["session.start_s"] = self.setup_times["session_s"]
        m["layout.optimize_s"] = self.setup_times["layout_s"]
        ops = [o for o in self.ops if o["traced"]]
        n = max(1, len(ops))
        ids = {o["op_id"] for o in ops}

        log = parse_event_log(self.event_log)
        by_key = attribute(log["jobs"], self.tracer.spans)
        total_jobs = len(log["jobs"])
        m["trace.jobs"] = total_jobs
        m["trace.jobs_unattributed"] = len(by_key.get(None, []))

        def jobs(phase):
            return [
                j
                for o in ops
                for j in by_key.get(f"{o['op_id']}/{phase}", [])
            ]

        build_spans = [
            s for s in self.tracer.named("build") if s["op_id"] in ids
        ]
        m["query.build_ms"] = 1000 * _mean([s["end"] - s["start"] for s in build_spans])
        m["query.build_jobs"] = len(jobs("build")) / n
        exec_spans = [s for s in self.tracer.named("exec") if s["op_id"] in ids]
        exec_wall = sum(s["end"] - s["start"] for s in exec_spans)
        ej = jobs("exec")
        m["exec.ms"] = 1000 * exec_wall / n
        m["exec.jobs"] = len(ej) / n
        m["exec.stages"] = sum(j["n_stages"] for j in ej) / n
        m["exec.tasks"] = sum(j["tasks"] for j in ej) / n
        m["exec.shuffle_read_mb"] = sum(j["shuffle_read"] for j in ej) / n / 2**20
        m["exec.shuffle_write_mb"] = sum(j["shuffle_write"] for j in ej) / n / 2**20
        m["exec.spill_mb"] = sum(j["spill"] for j in ej) / n / 2**20
        m["exec.gc_s"] = sum(j["gc_ms"] for j in ej) / n / 1000
        cpu_s = sum(j["cpu_ns"] for j in ej) / 1e9
        m["exec.cpu_util"] = cpu_s / (exec_wall * self.cpus) if exec_wall else 0.0
        hits = [o["tier_hit"] for o in ops if "tier_hit" in o]
        m["serve.tier_hit_frac"] = _mean([1.0 if h else 0.0 for h in hits])

        cur = [o for o in self.curate if "build_s" in o]
        m["curate.build_s"] = sum(o["build_s"] for o in cur)
        m["curate.build_jobs"] = sum(
            len(by_key.get(f"{o['op_id']}/build", [])) for o in cur
        )

        if self.workload == "ingest":
            self._fold_layers(m, ops, by_key)

        m["trace.op_p50_ms"] = _median([o["latency_s"] * 1000 for o in ops if o["ok"]])
        # engine time over comparator time in the traced and in the
        # untraced passes of this run: the host's speed cancels
        traced, plain = _vs_duck(ops), _vs_duck([o for o in self.ops if not o["traced"]])
        if traced and plain:
            m["trace.overhead_frac"] = traced / plain - 1.0
        return m

    def _fold_layers(self, m, ops, by_key):
        spans = self.tracer.spans
        per_batch = {k: [] for k in FOLDS}
        crit, fold_jobs, written, amp = [], [], [], []
        for o in ops:
            mine = [s for s in spans if s["op_id"] == o["op_id"]]
            d = {
                k: sum(s["end"] - s["start"] for s in mine if s["name"] == f"fold.{k}")
                for k in FOLDS
            }
            for k, v in d.items():
                per_batch[k].append(v)
            ues = [s for s in mine if s["name"] == "update_event_summaries"]
            pooled = [s for s in mine if s["name"] in {f"fold.{k}" for k in POOLED}]
            if ues and pooled:
                prefix = min(s["start"] for s in pooled) - ues[0]["start"]
                crit.append(prefix + max(s["end"] - s["start"] for s in pooled) + d["colstats"])
            fj = by_key.get(f"{o['op_id']}/window", [])
            fold_jobs.append(len(fj))
            w = sum(j["bytes_written"] for j in fj)
            written.append(w / 2**20)
            if o.get("batch_bytes"):
                amp.append(w / o["batch_bytes"])
        for k in FOLDS:
            m[f"fold.{k}_s"] = _mean(per_batch[k])
        m["fold.critical_path_s"] = _mean(crit)
        m["fold.jobs"] = _mean(fold_jobs)
        m["fold.bytes_written_mb"] = _mean(written)
        m["fold.write_amp"] = _mean(amp)
        m["stream.overhead_ms"] = _mean([o["stream_overhead_ms"] for o in ops if "stream_overhead_ms" in o])
        m["ingest.append_ms"] = _mean([o["append_s"] * 1000 for o in ops if "append_s" in o])
        m["ingest.read_ms"] = _mean([o["read_s"] * 1000 for o in ops if "read_s" in o])
        m["ingest.stale_reported"] = _mean([o["stale_reported"] for o in ops if "stale_reported" in o])


PER_LAYER_UNITS = {
    "session.start_s": "s",
    "layout.optimize_s": "s",
    "layout.serve_tables": "count",
    "query.build_ms": "ms",
    "query.build_jobs": "count",
    "serve.tier_hit_frac": "fraction",
    "exec.ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.cpu_util": "fraction",
    "exec.gc_s": "s",
    "curate.build_s": "s",
    "curate.build_jobs": "count",
    **{f"fold.{k}_s": "s" for k in FOLDS},
    "fold.critical_path_s": "s",
    "fold.jobs": "count",
    "fold.bytes_written_mb": "MB",
    "fold.write_amp": "ratio",
    "stream.overhead_ms": "ms",
    "ingest.append_ms": "ms",
    "ingest.read_ms": "ms",
    "ingest.stale_reported": "count",
    "trace.op_p50_ms": "ms",
    "trace.overhead_frac": "fraction",
    "trace.jobs": "count",
    "trace.jobs_unattributed": "count",
}


# -- workloads ------------------------------------------------------------


def run_query(run: Run) -> None:
    from nerd_spark.queries import ORACLE
    from nerd_spark.queries.compare import diff

    run.setup()
    con = duck_connect(run.raw, run.cpus)
    oracle = {q: con.execute(ORACLE[q]).df() for q in QUERY_OPS}
    n = [0]

    def one_pass():
        order = list(QUERY_OPS)
        run.rng.shuffle(order)
        ops = []
        for q in order:
            n[0] += 1
            op = run.registry_op(q, f"op{n[0]}", lambda pdf: diff(pdf, oracle[q]))
            # the comparator runs the same oracle SQL right after
            op["duck_s"] = duck_time(con, ORACLE[q], DUCK_REPS)
            ops.append(op)
        return ops, True

    # the engine keeps getting faster over its first passes (JIT): one
    # warm-up pass left a downward trend across the measured passes
    run.measure(one_pass, warmups=2)
    if run.traced:
        run_curate(run)


def run_curate(run: Run) -> None:
    """One pass over ``CURATE_OPS`` in seed order, each answer checked
    against its oracle digest. The pass is not warmed up: it runs in
    the traced run of ``query``, after that workload's passes, and
    gives the ``curate.*`` layer figures."""
    digests = OracleDigests(run.fingerprint, run.raw, run.cpus, run.digest_cache)
    want = {q: digests.get(q) for q in CURATE_OPS}
    order = list(CURATE_OPS)
    run.rng.shuffle(order)
    for i, q in enumerate(order):
        op = run.registry_op(q, f"curate{i}", lambda pdf: OracleDigests.diff(pdf, want[q]))
        run.curate.append(op)
    run.mark("curate")


def split_holdback(raw_dir: str, seed: int) -> list[tuple[str, int]]:
    """Move the newest ``INGEST_HOLDBACK`` of events (by ts) out of the
    raw ``events.parquet`` into ``holdback.parquet`` and cut it into
    ``INGEST_BATCHES`` seed-placed batches, one parquet file each.
    Returns ``(file, end event_id)`` per batch; event ids ascend with
    ts in the generated data. Batch files carry UTC-adjusted
    timestamps, as the engine's own writes do."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ev = pq.read_table(os.path.join(raw_dir, "events.parquet"))
    ev = ev.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    n = ev.num_rows
    n_hold = max(INGEST_BATCHES, round(n * INGEST_HOLDBACK))
    pq.write_table(ev.slice(0, n - n_hold), os.path.join(raw_dir, "events.parquet"))
    hold = ev.slice(n - n_hold)
    pq.write_table(hold, os.path.join(raw_dir, "holdback.parquet"))
    ts = hold.schema.get_field_index("ts")
    hold = hold.set_column(ts, "ts", hold.column("ts").cast(pa.timestamp("us", tz="UTC")))
    rng = random.Random(seed)
    step = n_hold / INGEST_BATCHES
    cuts = [0]
    for i in range(1, INGEST_BATCHES):
        cuts.append(round(i * step + rng.uniform(-step / 4, step / 4)))
    cuts.append(n_hold)
    os.makedirs(os.path.join(raw_dir, "batches"))
    out = []
    for i in range(INGEST_BATCHES):
        part = hold.slice(cuts[i], cuts[i + 1] - cuts[i])
        path = os.path.join(raw_dir, "batches", f"b{i}.parquet")
        pq.write_table(part, path)
        out.append((path, part.column("event_id")[-1].as_py() + 1))
    return out


def run_ingest(run: Run, batches: list[tuple[str, int]]) -> None:
    from nerd_spark.queries import ORACLE, REGISTRY
    from nerd_spark.queries.compare import diff
    from nerd_spark.session import read_table
    from nerd_spark.sources import colstats, layout
    from nerd_spark.streaming import summary_stream

    if run.traced:
        for key, (mod, attr) in FOLDS.items():
            module = layout if mod == "layout" else colstats
            run.tracer.wrap(module, attr, f"fold.{key}")
        run.tracer.wrap(summary_stream, "update_event_summaries", "update_event_summaries")

    src = os.path.join(run.work, "incoming")

    def start_stream():
        os.makedirs(src)
        schema = read_table(run.spark, run.data_dir, "events").schema
        stream = (
            run.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        run.stream = summary_stream.stream_all_summaries(
            run.spark, stream, run.data_dir,
            checkpoint_dir=os.path.join(run.work, "checkpoint"),
        ).start()

    run.setup(tables=["events", "documents"], after_layout=start_stream)

    base = os.path.join(run.raw, "events.parquet")
    holdback = os.path.join(run.raw, "holdback.parquet")
    con = duck_connect(run.raw, run.cpus)
    a2_sql = ORACLE["a2_window_totals"]
    nxt = [0]
    seen_batches: set = set()

    def one_batch():
        i = nxt[0]
        nxt[0] += 1
        part, hi = batches[i]
        op_id = f"op{i}"
        run.tracer.op_id = op_id
        op = {"op_id": op_id, "name": f"batch{i}", "ok": False,
              "batch_bytes": os.path.getsize(part)}
        try:
            fold_batch(i, op, part, hi)
        except Exception as e:  # a raising batch counts as failed and ends the replay
            op["error"] = f"{type(e).__name__}: {e}"[:500]
            return [op], False
        return [op], nxt[0] < len(batches)

    def fold_batch(i, op, part, hi):
        op_id = op["op_id"]
        with run.tracer.span("op", op_id=op_id):
            t0 = time.perf_counter()
            with run.group(f"{op_id}/append"):
                run.spark.read.parquet(part).write.mode("append").parquet(
                    os.path.join(run.data_dir, "events.parquet")
                )
            t1 = time.perf_counter()
            tmp = os.path.join(src, f".b{i}.parquet")
            shutil.copyfile(part, tmp)
            t_land = time.perf_counter()
            os.rename(tmp, os.path.join(src, f"b{i}.parquet"))
            run.stream.processAllAvailable()
            t2 = time.perf_counter()
            with run.tracer.span("build"), run.group(f"{op_id}/build"):
                df = REGISTRY["a2_window_totals"](run.spark, run.data_dir)
            with run.tracer.span("exec"), run.group(f"{op_id}/exec"):
                pdf = df.toPandas()
            t3 = time.perf_counter()
        op.update(append_s=t1 - t0, latency_s=t3 - t_land, read_s=t3 - t2, pass_s=t3 - t0)
        served = any(WINDOW_TABLE in f for f in df.inputFiles())
        con.execute(
            "CREATE OR REPLACE VIEW events AS "
            f"SELECT * FROM '{base}' UNION ALL "
            f"SELECT * FROM '{holdback}' WHERE event_id < {hi}"
        )
        want = con.execute(a2_sql).df()
        # the comparator recomputes every fold-maintained answer from
        # the raw events: what serving from folded state saves
        op["duck_s"] = sum(duck_time(con, ORACLE[q], DUCK_REPS) for q in FOLD_CHECKED)
        bad = None if served else "a2_window_totals not answered from the window table"
        bad = bad or diff(pdf, want)
        op["ok"] = bad is None
        if bad:
            op["error"] = bad[:500]
        progress = [
            p for p in run.stream.recentProgress
            if p["numInputRows"] > 0 and p["batchId"] not in seen_batches
        ]
        seen_batches.update(p["batchId"] for p in progress)
        if not run.tracer.enabled:
            return
        op["tier_hit"] = served
        ues = [s for s in run.tracer.named("update_event_summaries") if s["op_id"] == op_id]
        if progress and ues:
            fold_ms = 1000 * (ues[-1]["end"] - ues[-1]["start"])
            op["stream_overhead_ms"] = progress[-1]["durationMs"]["triggerExecution"] - fold_ms
        from nerd_spark.sources.layout import serve_table_status

        op["stale_reported"] = sum(
            1 for s in serve_table_status(run.spark, run.data_dir)
            if s["gated"] and not s["fresh"]
        )

    run.measure(one_batch)

    # after the last measured batch every fold-maintained answer must
    # still equal the oracle over the events replayed so far
    with run.tracer.span("check", op_id="check"):
        for q in FOLD_CHECKED:
            try:
                with run.group("check/" + q):
                    pdf = REGISTRY[q](run.spark, run.data_dir).toPandas()
                bad = diff(pdf, con.execute(ORACLE[q]).df())
            except Exception as e:  # a raising check is a failed check
                bad = f"{type(e).__name__}: {e}"
            run.checks.append({"name": q, "ok": bad is None, "error": (bad or "")[:500]})
    run.mark("check")
