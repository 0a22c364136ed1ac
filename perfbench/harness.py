"""The benchmark workloads and their metrics.

``analytic`` runs a fixed list of registry queries as one closed-loop
client: each query is built (``spec.fn``, which runs the builder's eager
jobs), then executed into the ``noop`` sink, and cached blocks are released
before the next query. ``cdc_ingest`` lands a pre-staged Debezium feed one
file at a time under a ``foreachBatch`` stream and reads the state after
each batch becomes visible.

``Bench(cfg).run()`` returns a :class:`Result`; ``run.py`` prints it.
"""

from __future__ import annotations

import contextlib
import os
import random
import resource
import statistics
import time
from dataclasses import dataclass, field

from perfbench import datagen
from perfbench.oracle import expected_results, result_of
from perfbench.trace import UI_CONF, Tracer

#: Exec-dominated one-shot queries: relational, then text/ANN.
ANALYTIC = (
    "tpch_q1_pricing", "tpch_q5_local_supplier", "flagship_bonus",
    "minhash_signatures", "ivf_topk_batch", "mapinarrow_vector_norm",
)

#: Nominal seconds per timed pass (analytic) or per closed-loop batch
#: (cdc_ingest) on 4 cores: ``--seconds`` buys a fixed number of them, so
#: both sides of an A/B comparison do the same work.
NOMINAL_S = {"analytic": 5.0, "cdc_ingest": 0.85}
MIN_PASSES = 2
WARMUP_PASSES = 1
SETUP_REPS = 3
SHUFFLE_PARTITIONS = 8
SCALE = 0.01
#: The star schema is the same for every seed (42, the seed of the engine's
#: test data in TESTDATA.md), so the verified query outputs and each query's
#: work are fixed; ``--seed`` permutes the query order and generates the CDC
#: feed.
STAR_SEED = 42
CDC_KEYS = 20_000
CDC_BATCH = 2_000
CDC_WARMUP_BATCHES = 8

_OPERATORS = (
    ("stages", "count"), ("tasks", "count"), ("executor_run_s", "s"),
    ("core_busy_ratio", "ratio"), ("task_skew", "ratio"),
    ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("spill_mb", "MB"),
    ("gc_s", "s"),
)
PER_LAYER = (
    ("session.start_s", "s"), ("session.warmup_s", "s"),
    ("sources.read_table_s", "s"), ("sources.read_table_jobs", "count"),
    ("plans.build_s", "s"), ("plans.build_jobs", "count"),
    ("plans.build_shuffle_mb", "MB"), ("plans.build_share", "ratio"),
    ("plans.exec_s", "s"), ("plans.exec_jobs", "count"),
    *((f"operators.{n}", u) for n, u in _OPERATORS),
    *((f"q.{q}.{m}", u) for q in ANALYTIC
      for m, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"))),
    ("streaming.apply_p50_s", "s"), ("streaming.apply_tail_s", "s"),
    ("streaming.apply_jobs", "count"), ("streaming.apply_shuffle_mb", "MB"),
    ("streaming.engine_p50_s", "s"),
    ("streaming.state_rows", "count"), ("streaming.state_mb", "MB"),
    ("streaming.snapshot_files", "count"), ("streaming.retained_mb", "MB"),
    ("streaming.monitor_rows", "count"),
    ("trace.overhead_ratio", "ratio"),
)


@dataclass
class Config:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    scale: float = SCALE
    cdc_keys: int = CDC_KEYS
    cdc_batch: int = CDC_BATCH
    cdc_warmup: int = CDC_WARMUP_BATCHES
    #: fault injection for the self-tests
    corrupt_hash: bool = False
    drop_batch: bool = False


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    #: printed by name beside the metrics; not part of the JSON record
    notes: dict[str, object] = field(default_factory=dict)

    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok


def tail(samples: list[float]) -> tuple[float, float] | None:
    """``(percentile, value)``: the highest percentile with at least ten
    samples beyond it; ``None`` below 11 samples."""
    n = len(samples)
    if n < 11:
        return None
    return 100.0 * (n - 10) / n, sorted(samples)[n - 11]


def tail_note(samples: list[float], what: str) -> str:
    t = tail(samples)
    if t is None:
        return f"omitted: n={len(samples)} {what}, a tail needs 11"
    return f"{t[1]:.4f} s (p{t[0]:.1f} of n={len(samples)} {what})"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def steal_ticks() -> tuple[int, int]:
    """``(steal, total)`` jiffies of all vCPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


class Bench:
    def __init__(self, cfg: Config) -> None:
        self.cfg = cfg
        self.res = Result()
        self.spark = None
        self.tmp = os.path.join(cfg.work, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        #: per-layer values; a layer the workload never calls stays 0
        self.layer: dict[str, float] = {name: 0.0 for name, _ in PER_LAYER}

    # ------------------------------------------------------------------
    # session
    # ------------------------------------------------------------------

    def start_session(self) -> float:
        from projet_data_infrastructure_spark.session import get_spark

        conf = {
            "spark.local.dir": self.tmp,
            "spark.sql.warehouse.dir": os.path.join(self.cfg.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "false",
        }
        if self.cfg.trace:
            conf.update(UI_CONF)
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{cores()}]",
                               shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def setup(self, unit) -> None:
        """Run ``unit`` (session start + input registration) SETUP_REPS
        times; ``setup_s`` is the median, ``session.start_s`` the median
        session start within it."""
        total, starts = [], []
        for _ in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            starts.append(self.start_session())
            unit()
            total.append(time.perf_counter() - t0)
        self.res.metrics["setup_s"] = (statistics.median(total), "s")
        self.layer["session.start_s"] = statistics.median(starts)
        self.res.notes["jvm_start_s"] = starts[0]
        self.res.notes["setup_samples_s"] = [round(x, 3) for x in total]

    # ------------------------------------------------------------------

    def run(self) -> Result:
        from bench import _calibrate, _calibrate_membw

        self.res.notes["host_load"] = {"cpu_s": _calibrate(1), "membw_s": _calibrate_membw(1)}
        try:
            if self.cfg.workload == "cdc_ingest":
                self.run_cdc()
            else:
                self.run_queries()
            self.res.notes["peak_rss_mb"] = peak_rss_mb(self.spark)
        finally:
            if self.spark is not None:
                self.spark.stop()
        self.res.notes["error_rate"] = self.res.failed / max(self.res.attempted, 1)
        if self.cfg.trace:
            self.res.metrics = {
                name: (self.layer[name], unit) for name, unit in PER_LAYER}
        return self.res

    # ------------------------------------------------------------------
    # analytic
    # ------------------------------------------------------------------

    def run_queries(self) -> None:
        from bench import _release_cached_blocks

        from projet_data_infrastructure_spark.plans import all_specs
        from projet_data_infrastructure_spark.sources.readers import TABLES, read_table

        cfg = self.cfg
        t0 = time.perf_counter()
        sf_dir = datagen.write_star_schema(STAR_SEED, cfg.scale, os.path.join(cfg.work, "star"))
        registry = {s.name: s for s in all_specs()}
        specs = [registry[n] for n in ANALYTIC]
        rng = random.Random(cfg.seed)
        rng.shuffle(specs)
        expected = expected_results(sf_dir, specs)
        if cfg.corrupt_hash:
            rows, _ = expected[specs[0].name]
            expected[specs[0].name] = (rows, "0" * 32)
        self.res.notes["stage_s"] = time.perf_counter() - t0

        def register_inputs():
            for t in TABLES:
                read_table(self.spark, sf_dir, t).limit(1).collect()

        self.setup(register_inputs)
        spark = self.spark

        # Check pass, untimed: collect each result and compare it with the oracle.
        t0 = time.perf_counter()
        for spec in specs:
            want = expected[spec.name]
            try:
                got = result_of(spec.fn(spark, sf_dir))
                ok = want is None or got == want
                if not ok:
                    self.res.notes[f"error.{spec.name}"] = f"result {got} != oracle {want}"
            except Exception as e:  # noqa: BLE001 - a failed query is a result
                self.res.notes[f"error.{spec.name}"] = f"{type(e).__name__}: {str(e)[:200]}"
                ok = False
            self.res.op(ok)
            _release_cached_blocks(spark)
        self.res.notes["order"] = [s.name for s in specs]
        self.res.notes["verified"] = {
            n: f"{v[0]}:{v[1][:12]}" for n, v in sorted(expected.items()) if v}

        # Untimed noop passes bring the JIT closer to steady state; every
        # pass after the check runs the queries in a fresh seeded order, so
        # no query's median rests on a single position.
        for _ in range(WARMUP_PASSES):
            rng.shuffle(specs)
            self._pass(specs, sf_dir, None, "warm")
        self.layer["session.warmup_s"] = time.perf_counter() - t0

        n_passes = max(MIN_PASSES, round(cfg.seconds / NOMINAL_S[cfg.workload]))
        tracer = Tracer(spark) if cfg.trace else None
        if tracer:
            n_passes += n_passes % 2  # alternate untraced / traced passes
        # samples[pass][query] = (build_s, exec_s)
        samples: list[dict[str, tuple[float, float]]] = []
        walls: list[float] = []
        t_timed, steal0 = time.perf_counter(), steal_ticks()
        for p in range(n_passes):
            rng.shuffle(specs)
            traced = tracer is not None and p % 2 == 1
            if traced:
                tracer.patch_read_table()
            t0 = time.perf_counter()
            samples.append(self._pass(specs, sf_dir, tracer if traced else None, f"p{p}"))
            walls.append(time.perf_counter() - t0)
            if traced:
                tracer.unpatch()
        self._host_steal(steal0)

        names = [s.name for s in specs]
        plain = samples if tracer is None else samples[0::2]
        per_query = {n: [sum(s[n]) for s in plain if n in s] for n in names}
        per_query = {n: xs for n, xs in per_query.items() if xs}  # failed: counted
        lat = [x for xs in per_query.values() for x in xs]
        m = self.res.metrics
        m["pass_s"] = (sum(statistics.median(xs) for xs in per_query.values()), "s")
        m["latency_p50_s"] = (statistics.median(lat), "s")
        self.res.notes["query_p50_s"] = statistics.median(lat)
        self.res.notes["query_tail_s"] = tail_note(lat, "query runs")
        self.res.notes["passes"] = len(plain)
        self.res.notes["pass_walls_s"] = [round(w, 3) for w in walls]
        self.res.notes["query_median_s"] = {
            n: round(statistics.median(xs), 3) for n, xs in sorted(per_query.items())}
        self.res.notes["timed_s"] = time.perf_counter() - t_timed
        if tracer:
            self._query_layers(tracer, samples, names, plain)
            traced_wall = statistics.median(walls[1::2])
            self.res.notes["trace.accounted_share"] = (
                self.layer["plans.build_s"] + self.layer["plans.exec_s"]) / traced_wall

    def _pass(self, specs, sf_dir, tracer, tag) -> dict[str, tuple[float, float]]:
        """One timed pass: ``query -> (build_s, exec_s)``; a failed query is
        counted and left out."""
        from bench import _release_cached_blocks

        out = {}
        for spec in specs:
            try:
                out[spec.name] = self._timed_query(spec, sf_dir, tracer, f"{tag}:{spec.name}")
                self.res.op(True)
            except Exception as e:  # noqa: BLE001 - a failed query is a result
                self.res.notes[f"error.{spec.name}"] = f"{type(e).__name__}: {str(e)[:200]}"
                self.res.op(False)
            _release_cached_blocks(self.spark)
        return out

    def _timed_query(self, spec, sf_dir, tracer, tag) -> tuple[float, float]:
        def phase(name):
            return tracer.group(f"{tag}:{name}") if tracer else contextlib.nullcontext()

        t0 = time.perf_counter()
        with phase("build"):
            df = spec.fn(self.spark, sf_dir)
        t1 = time.perf_counter()
        with phase("exec"):
            df.write.format("noop").mode("overwrite").save()
        return t1 - t0, time.perf_counter() - t1

    def _query_layers(self, tracer, samples, names, plain) -> None:
        traced = [(p, s) for p, s in enumerate(samples) if p % 2 == 1]
        groups = {f"p{p}:{n}:{ph}" for p, _ in traced for n in names
                  for ph in ("build", "build:read", "exec")}
        totals = tracer.stage_totals(groups)
        zero: dict[str, float] = {}

        def tot(p, n, ph, key):
            return totals.get(f"p{p}:{n}:{ph}", zero).get(key, 0.0)

        per_pass = []
        for p, s in traced:
            reads = [sec for g, sec in tracer.reads if g.startswith(f"p{p}:")]
            build = sum(s[n][0] for n in names if n in s)
            exec_ = sum(s[n][1] for n in names if n in s)
            row = {
                "sources.read_table_s": sum(reads),
                "sources.read_table_jobs": sum(tot(p, n, "build:read", "jobs") for n in names),
                "plans.build_s": build,
                "plans.build_jobs": sum(tot(p, n, ph, "jobs") for n in names
                                        for ph in ("build", "build:read")),
                "plans.build_shuffle_mb": sum(
                    tot(p, n, ph, k) for n in names for ph in ("build", "build:read")
                    for k in ("shuffle_read_mb", "shuffle_write_mb")),
                "plans.build_share": build / (build + exec_),
                "plans.exec_s": exec_,
                "plans.exec_jobs": sum(tot(p, n, "exec", "jobs") for n in names),
                "_pass_s": build + exec_,
            }
            all_ph = ("build", "build:read", "exec")
            for key, _ in _OPERATORS:
                if key in ("core_busy_ratio", "task_skew"):
                    continue
                row[f"operators.{key}"] = sum(tot(p, n, ph, key) for n in names for ph in all_ph)
            row["operators.core_busy_ratio"] = row["operators.executor_run_s"] / (
                (build + exec_) * cores())
            skews = [totals[g]["task_skew"] for g in totals if g.startswith(f"p{p}:")]
            row["operators.task_skew"] = statistics.median(skews) if skews else 1.0
            for n in names:
                b, e = s.get(n, (0.0, 0.0))
                row[f"q.{n}.build_s"] = b
                row[f"q.{n}.exec_s"] = e
                row[f"q.{n}.jobs"] = sum(tot(p, n, ph, "jobs") for ph in all_ph)
            per_pass.append(row)
        for key in per_pass[0]:
            self.layer[key] = statistics.median(r[key] for r in per_pass)
        untraced = statistics.median(sum(map(sum, s.values())) for s in plain)
        self.layer["trace.overhead_ratio"] = self.layer.pop("_pass_s") / untraced

    # ------------------------------------------------------------------
    # cdc_ingest
    # ------------------------------------------------------------------

    def run_cdc(self) -> None:
        from pyspark.sql import functions as F

        from projet_data_infrastructure_spark.streaming import versioned
        from projet_data_infrastructure_spark.streaming.cdc import (
            apply_cdc_batch_ooo, parse_envelope, read_cdc_state)
        from projet_data_infrastructure_spark.streaming.monitor import (
            attach_monitor, reconcile)

        cfg = self.cfg
        n_timed = max(MIN_PASSES, round(cfg.seconds / NOMINAL_S["cdc_ingest"]))
        if cfg.trace:
            n_timed += n_timed % 2
        t0 = time.perf_counter()
        boot, batches = datagen.cdc_feed(cfg.seed, cfg.cdc_keys,
                                         cfg.cdc_warmup + n_timed, cfg.cdc_batch)
        staging = os.path.join(cfg.work, "staging")
        source = os.path.join(cfg.work, "source")
        os.makedirs(staging)
        os.makedirs(source)
        boot_file = os.path.join(cfg.work, "bootstrap.json")
        datagen.write_feed_file(boot, boot_file)
        files = []
        for i, batch in enumerate(batches):
            files.append(f"batch-{i:05d}.json")
            datagen.write_feed_file(batch, os.path.join(staging, files[-1]))

        self.res.notes["stage_s"] = time.perf_counter() - t0
        targets = iter(os.path.join(cfg.work, f"state-{k}") for k in range(SETUP_REPS))

        def bootstrap():
            self.target = next(targets)
            apply_cdc_batch_ooo(self.target, parse_envelope(self.spark.read.text(boot_file)))
            read_cdc_state(self.spark, self.target).count()

        self.setup(bootstrap)
        spark, target = self.spark, self.target
        monitor = attach_monitor(spark)
        tracer = Tracer(spark) if cfg.trace else None
        apply_s: dict[int, float] = {}
        traced_on = False  # read by handle() at call time
        groups: set[str] = set()

        def handle(df, batch_id):
            t0 = time.perf_counter()
            if traced_on:
                groups.add(f"b{batch_id}:apply")
                with tracer.group(f"b{batch_id}:apply"):
                    apply_cdc_batch_ooo(target, parse_envelope(df))
            else:
                apply_cdc_batch_ooo(target, parse_envelope(df))
            apply_s[batch_id] = time.perf_counter() - t0

        stream = (spark.readStream.schema("value string")
                  .option("maxFilesPerTrigger", 1).text(source))
        query = (stream.writeStream.foreachBatch(handle)
                 .option("checkpointLocation", os.path.join(cfg.work, "checkpoint"))
                 .start())

        def read_state():
            return (read_cdc_state(spark, target).groupBy("id_employee")
                    .agg(F.count("*").alias("n"), F.avg("distance").alias("avg_distance"))
                    .collect())

        landed: list = list(boot)
        fresh, reads, cycles, applies, traced_flags = [], [], [], [], []
        steal0 = steal_ticks()
        try:
            t_warm = time.perf_counter()
            for i, name in enumerate(files):
                timed = i >= cfg.cdc_warmup
                traced_on = tracer is not None and timed and (i - cfg.cdc_warmup) % 2 == 1
                landed.extend(batches[i])
                if cfg.drop_batch and i == cfg.cdc_warmup:
                    continue  # the self-test's lost file: landed in the books only
                if i == cfg.cdc_warmup:
                    self.layer["session.warmup_s"] = time.perf_counter() - t_warm
                    steal0 = steal_ticks()
                version = versioned.latest_version(target)
                t0 = time.perf_counter()
                os.replace(os.path.join(staging, name), os.path.join(source, name))
                ok = self._wait_version(target, version, query)
                t1 = time.perf_counter()
                self.res.op(ok)
                if not ok:
                    break
                try:
                    if traced_on:
                        groups.add(f"r{i}:read")
                        with tracer.group(f"r{i}:read"):
                            read_state()
                    else:
                        read_state()
                except Exception as e:  # noqa: BLE001 - a failed read is a result
                    self.res.notes["error.read"] = f"{type(e).__name__}: {str(e)[:200]}"
                    self.res.op(False)
                    continue
                t2 = time.perf_counter()
                self.res.op(True)
                if timed:
                    fresh.append(t1 - t0)
                    reads.append(t2 - t1)
                    cycles.append(t2 - t0)
                    traced_flags.append(traced_on)
            query.processAllAvailable()
            self._host_steal(steal0)
            applies = [apply_s[b] for b in sorted(apply_s)][cfg.cdc_warmup:]
        finally:
            query.stop()

        # Output check: the state equals the plain-Python reduction of the feed.
        want = datagen.reduce_feed(landed)
        state = read_cdc_state(spark, target).select(
            "id", "id_employee", "sport_type", "distance", "activity_duration",
            "comment", F.unix_micros("start_datetime").alias("start_datetime")).collect()
        got = {r["id"]: r.asDict() for r in state}
        fields = ("id_employee", "sport_type", "distance", "activity_duration",
                  "comment", "start_datetime")
        same = got.keys() == want.keys() and all(
            got[k][f] == want[k][f] for k in want for f in fields)
        rec = reconcile(len(want), len(got))
        self.res.op(same and bool(rec["consistent"]))
        self.res.notes["reconcile"] = rec

        plain = [x for x, t in zip(fresh, traced_flags) if not t]
        m = self.res.metrics
        m["pass_s"] = (statistics.median(
            c for c, t in zip(cycles, traced_flags) if not t), "s")
        m["latency_p50_s"] = (statistics.median(plain), "s")
        n_changes = cfg.cdc_batch * len(plain)
        self.res.notes.update({
            "freshness_p50_s": statistics.median(plain),
            "freshness_tail_s": tail_note(plain, "batches"),
            "read_p50_s": statistics.median(
                r for r, t in zip(reads, traced_flags) if not t),
            "changes_per_s": n_changes / sum(plain),
            "batches": len(plain),
            "freshness_series_s": [round(x, 3) for x in fresh],
        })
        if tracer:
            self._cdc_layers(tracer, spark, target, groups, fresh, applies, traced_flags, monitor)

    def _host_steal(self, start: tuple[int, int]) -> None:
        """Share of vCPU time the host took away during the timed part: a
        diagnostic that explains wall-time drift, not a metric."""
        steal, total = steal_ticks()
        self.res.notes["host_steal_share"] = (steal - start[0]) / max(total - start[1], 1)

    def _wait_version(self, target, version, query, timeout=60.0) -> bool:
        from projet_data_infrastructure_spark.streaming import versioned

        deadline = time.perf_counter() + timeout
        while versioned.latest_version(target) == version:
            if time.perf_counter() > deadline or query.exception() is not None:
                return False
            time.sleep(0.002)
        return True

    def _cdc_layers(self, tracer, spark, target, groups, fresh, applies, flags, monitor) -> None:
        from projet_data_infrastructure_spark.streaming import versioned

        t_fresh = [f for f, t in zip(fresh, flags) if t]
        t_apply = [a for a, t in zip(applies, flags) if t]
        u_fresh = [f for f, t in zip(fresh, flags) if not t]
        totals = tracer.stage_totals(groups)
        apply_tot = [t for g, t in totals.items() if g.endswith(":apply")]
        lay = self.layer
        lay["streaming.apply_p50_s"] = statistics.median(t_apply)
        apply_tail = tail(applies)
        lay["streaming.apply_tail_s"] = apply_tail[1] if apply_tail else max(applies)
        lay["streaming.apply_jobs"] = statistics.median(t["jobs"] for t in apply_tot)
        lay["streaming.apply_shuffle_mb"] = statistics.median(
            t["shuffle_read_mb"] + t["shuffle_write_mb"] for t in apply_tot)
        lay["streaming.engine_p50_s"] = statistics.median(
            f - a for f, a in zip(t_fresh, t_apply))
        all_tot = list(totals.values())
        for key, _ in _OPERATORS:
            if key not in ("core_busy_ratio", "task_skew"):
                lay[f"operators.{key}"] = sum(t[key] for t in all_tot) / len(t_fresh)
        lay["operators.task_skew"] = statistics.median(t["task_skew"] for t in all_tot)
        busy_wall = sum(t_fresh)
        lay["operators.core_busy_ratio"] = sum(
            t["executor_run_s"] for t in apply_tot) / (busy_wall * cores())
        version = versioned.latest_version(target)
        snap = os.path.join(target, f"v={version}")
        lay["streaming.state_rows"] = versioned.read_snapshot(spark, target).count()
        lay["streaming.state_mb"] = _dir_mb(snap)
        lay["streaming.snapshot_files"] = sum(
            1 for f in os.listdir(snap) if f.endswith(".parquet"))
        lay["streaming.retained_mb"] = _dir_mb(target)
        lay["streaming.monitor_rows"] = monitor.stats.total_rows
        lay["trace.overhead_ratio"] = statistics.median(t_fresh) / statistics.median(u_fresh)


def _dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6
