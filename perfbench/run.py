#!/usr/bin/env python3
"""Benchmark runner for the pim_orc_spark engine.

    python3 perfbench/run.py --workload sql_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process, one Spark session at
local[nproc], one query at a time (a closed loop with a single
client), results written to the ``noop`` sink. The run:

1. generates the seeded inputs under ``.bench_work/inputs`` (cached
   per seed; not part of any timing);
2. sets up (``setup_s``): JVM and session start with empty cache
   roots, then the cold pass over every slot;
3. runs one untimed verification pass (outputs checked against the
   engine's DuckDB oracles or recorded digests); it is also the warm-up;
4. times warm passes in a seeded slot order for ``--seconds``, with
   Python and JVM GC between passes, outside the timing;
5. prints a detail line (environment, per-slot samples, JVM and host
   readings) and, last, the result line.

With ``--trace 1`` the warm loop alternates plain and traced passes:
traced passes record spans and executed-plan SQL metrics, and the
result carries the per-layer metrics plus the tracing overhead.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import platform
import random
import shutil
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

import stats  # noqa: E402
from workloads import WORKLOADS, Ingest  # noqa: E402

# extra orc_roundtrip_sum samples after the timed loop, so that
# orc_rows_per_s is a median over more than the passes' few samples
ORC_EXTRA = 8
# warm passes timed even when --seconds runs out sooner, so that
# pass_s is never a single sample
MIN_PASSES = 2
# a traced run orders its warm passes plain, traced, traced, plain, so
# that the warm passes' drift (later passes are faster while the JIT
# still compiles) cancels out of the traced-minus-plain overhead
TRACED_ORDER = ("count", "traced", "traced", "count")
# host CPU steal (%) over the timed loop above which the detail line
# flags the run as taken on a contended host
STEAL_FLAG_PCT = 5.0
SCALES = {"bench": 1.0, "smoke": 0.1}  # × the sf0.01 row counts
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "resident_mb": "MB",
    "orc_rows_per_s": "1/s",
}
PER_LAYER = {
    "operators.plan_s": "s",
    "operators.exec_s": "s",
    "operators.cold_s": "s",
    "catalog.load_table_s": "s",
    "artifacts.hits": "count",
    "artifacts.builds": "count",
    "artifacts.warm_builds": "count",
    "artifacts.build_s": "s",
    "exec.scan_ms": "ms",
    "exec.exchange_ms": "ms",
    "exec.join_ms": "ms",
    "exec.agg_ms": "ms",
    "exec.sort_ms": "ms",
    "exec.python_ms": "ms",
    "exec.other_ms": "ms",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.python_sent_mb": "MB",
    "exec.python_recv_mb": "MB",
    "dedup.candidates": "count",
    "dedup.pairs": "count",
    "dedup.admission": "ratio",
    "sources.write_orc_s": "s",
    "sources.write_mb": "MB",
    "jvm.gc_s": "s",
    "jvm.jit_s": "s",
    "codegen.compiles": "count",
    "host.steal_pct": "%",
    "trace.overhead_s": "s",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SCALES), default="bench")
    p.add_argument(
        "--record-digests",
        action="store_true",
        help="verify the digest-checked slots with their DuckDB oracles and record their digests",
    )
    return p.parse_args(argv)


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_memory_gb() -> float:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) / 1024 / 1024
    except OSError:
        pass
    return 8.0


def pin_environment(run_dir: str) -> None:
    """Engine settings fixed by the benchmark, set before the engine is
    imported (its cache roots are read at import)."""
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    # local mode: the driver heap is the executor heap; leave the host
    # at least half its memory
    mem_g = max(1, min(6, int(host_memory_gb() * 0.4)))
    tmp = os.path.join(run_dir, "tmp")
    dirs = {
        "SPARK_GRAFT_ORC_CACHE": os.path.join(run_dir, "orc"),
        "SPARK_GRAFT_MAINT_CACHE": os.path.join(run_dir, "maint"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
    }
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env = dict(dirs)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_g}g",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"
            f" --conf spark.ui.showConsoleProgress=false"
            f" --conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"
            " pyspark-shell"
        ),
        # the launcher JVM that spark-submit runs first
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
    )
    os.environ.update(env)


def prepare_inputs(work: str, seed: int, scale: str, scan: bool) -> dict:
    """The seed's inputs, generated on first use: the base tables, and
    the scan lineitem when ``scan`` (only workloads with scan slots
    read it)."""
    import gen
    import pyarrow.parquet as pq

    root = os.path.join(work, "inputs", f"{scale}-seed{seed}")
    base, scan_dir = os.path.join(root, "base"), os.path.join(root, "scan")
    base_done, scan_done = os.path.join(root, "_BASE_DONE"), os.path.join(root, "_SCAN_DONE")
    if not os.path.exists(base_done):
        shutil.rmtree(root, ignore_errors=True)
        gen.write_base(base, seed, SCALES[scale])
        open(base_done, "w").close()
    if scan and not os.path.exists(scan_done):
        shutil.rmtree(scan_dir, ignore_errors=True)
        gen.write_scan_lineitem(base, scan_dir, seed)
        open(scan_done, "w").close()

    def rows(d):
        return pq.ParquetFile(os.path.join(d, "lineitem.parquet")).metadata.num_rows

    return {
        "base": base,
        "scan": scan_dir,
        "rows": {"base": rows(base), "scan": rows(scan_dir) if scan else None},
        "corpus": f"docs{gen.DOCS}-seed{gen.CORPUS_SEED}",
    }


def source_id() -> str:
    """git SHA of the checkout when it is a repository, else a digest
    of the engine's source files."""
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
        if sha.returncode == 0:
            return sha.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, "pim_orc_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(ROOT, "__spark_entry__.py"), "rb") as fh:
        h.update(fh.read())
    return "tree-" + h.hexdigest()[:16]


class Bench:
    def __init__(self, args, inputs: dict, run_dir: str, t0: float) -> None:
        """``t0``: when the inputs were ready; the first set-up counts
        from there (generating inputs is the benchmark's own cost)."""
        import __spark_entry__ as entry

        self.t0 = t0
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.inputs = inputs
        self.run_dir = run_dir
        self.rng = random.Random(args.seed)
        self.ingest = Ingest(inputs["base"], os.path.join(run_dir, "ingest"))
        qs = entry.all_queries()
        self.fns = {s: (self.ingest if s == "ingest_orc" else qs[s]) for s in self.wl.slots}
        oracles: dict = {}
        for m in entry._modules():
            oracles.update(m.ORACLES)
        self.oracles = {s: oracles.get(s) for s in self.wl.slots}
        self.oracles["ingest_orc"] = oracles["orc_roundtrip_sum"]
        self.attempted = 0
        self.failures: list[dict] = []
        self.tracer = None
        self.artifacts = None
        self.spark = None
        self.jvm = None

    # --- session -------------------------------------------------------
    def start_session(self) -> None:
        from pim_orc_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        import probes

        self.jvm = probes.JvmProbe(self.spark)

    def stop(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        self.spark = None

    def reclaim(self) -> None:
        gc.collect()
        if self.jvm is not None:
            self.jvm.full_gc()

    # --- one slot call ---------------------------------------------------
    def plan(self, slot: str):
        """Build the slot's DataFrame: Python, Catalyst and artifact
        lookups (and whatever eager jobs the slot runs to plan)."""
        if slot == "ingest_orc":
            return self.ingest.source(self.spark)
        return self.fns[slot](self.spark, self.sf_dir(slot))

    def materialize(self, slot: str, df):
        """The frame whose execution finishes the slot: ``ingest_orc``
        writes its ORC table here and returns the read-back sum."""
        return self.ingest.write_and_read(self.spark, df) if slot == "ingest_orc" else df

    def call(self, slot: str, how: str):
        """Run one slot; return (plan_s, exec_s, plan_metrics or None),
        or None when it raised. ``how``:

        - "noop": execute into the ``noop`` sink (untraced runs);
        - "count": execute through ``queryExecution().toRdd().count()``,
          the path whose executed plan carries the SQL metrics (plain
          passes of a traced run, so they differ from traced passes
          only by the tracing);
        - "traced": "count" inside spans, plus the plan's SQL metrics;
        - "collect": plan and materialize, and return (plan_s, df)
          without executing.
        """
        import probes

        if slot == "ingest_orc":
            self.ingest.prepare()
        self.attempted += 1
        tr = self.tracer if how == "traced" else None
        try:
            if tr:
                with tr.span(slot, "operators", kind="slot"):
                    t0 = time.perf_counter()
                    with tr.span("plan", "operators.plan"):
                        df = self.plan(slot)
                    t1 = time.perf_counter()
                    with tr.span("exec", "operators.exec"):
                        jqe, rows = self.count_rows(self.materialize(slot, df))
                    t2 = time.perf_counter()
                pm = probes.plan_metrics(jqe.executedPlan())
                pm["output_rows"] = rows
                return t1 - t0, t2 - t1, pm
            t0 = time.perf_counter()
            df = self.plan(slot)
            t1 = time.perf_counter()
            df = self.materialize(slot, df)
            if how == "collect":
                return t1 - t0, df
            if how == "count":
                self.count_rows(df)
            else:
                df.write.format("noop").mode("overwrite").save()
            return t1 - t0, time.perf_counter() - t1, None
        except Exception as exc:  # counted, reported, never masked
            self.failures.append(
                {"slot": slot, "phase": how, "error": f"{type(exc).__name__}: {str(exc)[:300]}"}
            )
            traceback.print_exc(file=sys.stderr)
            return None

    @staticmethod
    def count_rows(df):
        from pim_orc_spark.plans import require_query_execution

        jqe = require_query_execution(df).queryExecution()
        return jqe, jqe.toRdd().count()

    def run_pass(self, order: list[str], how: str) -> dict | None:
        """One pass over ``order``; slot → (plan_s, exec_s, metrics).
        None when any slot failed."""
        out = {}
        for slot in order:
            r = self.call(slot, how)
            if r is None:
                return None
            out[slot] = r
        return out

    # --- phases ----------------------------------------------------------
    def setup(self) -> dict:
        """JVM and session start, then the cold pass over every slot."""
        self.start_session()
        t_sess = time.perf_counter()
        if self.tracer:
            self.tracer.pass_id = "setup"
        cold = self.run_pass(self.order(), "traced" if self.tracer else "noop")
        return {
            "setup_s": time.perf_counter() - self.t0,
            "session_s": t_sess - self.t0,
            "cold_s": {s: v[0] + v[1] for s, v in (cold or {}).items()},
            "artifact_builds": self.artifacts.builds if self.artifacts else None,
            "artifact_build_s": self.artifacts.build_s if self.artifacts else None,
        }

    def verify(self) -> dict:
        """Untimed pass: every slot's output checked. Doubles as the
        warm-up before the timed loop."""
        import verify

        digests = verify.load_digests()
        results = {}
        for slot in self.order():
            r = self.call(slot, "collect")
            if r is None:
                results[slot] = "error"
                continue
            oracle_sql = self.oracles.get(slot)
            sf_dir = self.sf_dir(slot)
            try:
                if self.args.record_digests and slot in self.wl.dedup_slots:
                    ok, msg = self.record_digest(slot, r[1], oracle_sql, sf_dir, digests)
                else:
                    ok, msg = verify.check(
                        r[1], slot, sf_dir, oracle_sql, digests, self.inputs["corpus"]
                    )
            except Exception as exc:
                ok, msg = False, f"{type(exc).__name__}: {str(exc)[:300]}"
            if not ok:
                self.failures.append({"slot": slot, "phase": "verify", "error": msg})
            results[slot] = msg
        return results

    def record_digest(self, slot, df, oracle_sql, sf_dir, digests):
        import verify
        from pim_orc_spark.oracle import compare

        rows = [tuple(r) for r in df.collect()]
        ok, msg = compare(df, oracle_sql, sf_dir)
        if ok:
            digests[slot] = {
                "sha256": verify.digest(list(df.columns), rows),
                "rows": len(rows),
                "corpus": self.inputs["corpus"],
            }
            with open(verify.DIGESTS_PATH, "w") as fh:
                json.dump(digests, fh, indent=1, sort_keys=True)
                fh.write("\n")
        return ok, msg

    def sf_dir(self, slot: str) -> str:
        return self.inputs["scan" if slot in self.wl.scan_slots else "base"]

    def order(self) -> list[str]:
        order = list(self.wl.slots)
        self.rng.shuffle(order)
        return order

    def warm_loop(self, seconds: float) -> dict:
        """Warm passes for ``seconds``, at least ``MIN_PASSES``. Untraced
        runs write to the noop sink; a traced run runs whole rounds of
        ``TRACED_ORDER``, plain ("count") and traced passes on the same
        execution path."""
        import probes

        passes = {"plain": [], "traced": []}
        steal0 = probes.read_cpu_times()
        builds0 = self.artifacts.builds if self.artifacts else 0
        t_end = time.perf_counter() + seconds
        i = 0
        round_len = len(TRACED_ORDER) if self.tracer else 1
        while i < max(MIN_PASSES, round_len) or time.perf_counter() < t_end or i % round_len:
            how = TRACED_ORDER[i % round_len] if self.tracer else "noop"
            if self.tracer:
                self.tracer.pass_id = f"pass{i}"
            before, host0 = self.jvm.read(), probes.read_cpu_times()
            h0 = self.artifacts.hits if self.artifacts else 0
            rec = self.run_pass(self.order(), how)
            after, host1 = self.jvm.read(), probes.read_cpu_times()
            if rec is not None:
                jvm = {k: after[k] - before[k] for k in after}
                jvm["steal_pct"] = probes.steal_pct(host0, host1)
                passes["traced" if how == "traced" else "plain"].append(
                    {
                        "slots": rec,
                        "hits": (self.artifacts.hits - h0) if self.artifacts else None,
                        "jvm": jvm,
                    }
                )
            self.reclaim()
            i += 1
        return {
            "passes": passes,
            "steal_pct": probes.steal_pct(steal0, probes.read_cpu_times()),
            "warm_builds": (self.artifacts.builds - builds0) if self.artifacts else None,
        }

    def orc_samples(self, n: int) -> list[float]:
        out = []
        for _ in range(n):
            r = self.call("orc_roundtrip_sum", "noop")
            if r is not None:
                out.append(r[0] + r[1])
        self.reclaim()
        return out

    def resident_mb(self) -> float:
        import probes

        gc.collect()
        self.jvm.full_gc()
        self.jvm.full_gc()
        return self.jvm.heap_used_mb() + probes.storage_disk_mb(self.spark)

    def load_table_s(self) -> dict:
        from pim_orc_spark.catalog import load_table

        out = {}
        sf_dir = self.inputs["base"]
        for t in self.wl.tables:
            ts = []
            for _ in range(5):
                t0 = time.perf_counter()
                load_table(self.spark, sf_dir, t)
                ts.append(time.perf_counter() - t0)
            out[t] = stats.median(ts)
        return out

    # --- the run ---------------------------------------------------------
    def run(self) -> tuple[dict, dict]:
        if self.args.trace:
            import tracing

            self.tracer = tracing.Tracer()
            self.artifacts = tracing.ArtifactProbe(self.tracer)
            self.artifacts.install()
        try:
            setup = self.setup()
            t_verify = time.perf_counter()
            checks = self.verify()
            self.reclaim()
            t_loop = time.perf_counter()
            loop = self.warm_loop(self.args.seconds)
            t_tail = time.perf_counter()
            loop["orc_extra"] = self.orc_samples(ORC_EXTRA)
            resident = self.resident_mb()
            load_s = self.load_table_s() if self.args.trace else None
            env = self.environment()
            setup["phase_s"] = {
                "verify": t_loop - t_verify,
                "loop": t_tail - t_loop,
                "tail": time.perf_counter() - t_tail,
            }
        finally:
            if self.artifacts:
                self.artifacts.uninstall()
            self.stop()
        return self.report(setup, checks, loop, resident, load_s, env)

    def environment(self) -> dict:
        sc = self.spark.sparkContext
        return {
            "nproc": os.environ["SPARK_GRAFT_CPUS"],
            "host_mem_gb": round(host_memory_gb(), 2),
            "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "spark": self.spark.version,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "source": source_id(),
            "master": sc.master,
        }

    # --- results ---------------------------------------------------------
    def report(self, setup, checks, loop, resident, load_s, env) -> tuple[dict, dict]:
        plain = loop["passes"]["plain"]
        traced = loop["passes"]["traced"]

        def pass_times(ps):
            return [sum(p + e for p, e, _ in rec["slots"].values()) for rec in ps]

        def slot_samples(ps, slot):
            return [rec["slots"][slot][0] + rec["slots"][slot][1] for rec in ps if slot in rec["slots"]]

        pt = pass_times(plain)
        detail: dict = {
            "workload": self.wl.name,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "env": env,
            "setup_s": setup["setup_s"],
            "session_s": setup["session_s"],
            "phase_s": setup["phase_s"],
            "cold_s": setup["cold_s"],
            "verify": checks,
            "failures": self.failures,
            "attempted": self.attempted,
            "error_rate": len(self.failures) / max(self.attempted, 1),
            "passes": len(pt),
            "pass_samples_s": pt,
            "pass_steal_pct": [r["jvm"]["steal_pct"] for r in plain],
            "pass_cpu_s": [r["jvm"]["cpu_s"] for r in plain],
            "slot_median_s": {
                s: stats.median(slot_samples(plain, s)) for s in self.wl.slots if slot_samples(plain, s)
            },
            "jvm_per_pass": {
                k: stats.median([r["jvm"][k] for r in plain])
                for k in ("gc_s", "jit_s", "codegen_compiles", "cpu_s", "steal_pct")
            }
            if plain
            else {},
            "host_steal_pct": loop["steal_pct"],
            "contended": loop["steal_pct"] > STEAL_FLAG_PCT,
        }
        if pt:
            p = stats.supported_percentile(len(pt))
            detail["pass_s_median"] = stats.median(pt)
            detail["pass_s_percentile"] = {"p": p, "value": stats.percentile(pt, p)} if p else None
        rows = self.inputs["rows"]["scan" if "orc_roundtrip_sum" in self.wl.scan_slots else "base"]
        orc = slot_samples(plain, "orc_roundtrip_sum") + loop["orc_extra"]
        detail["orc_samples_s"] = orc
        if self.args.trace == 0:
            metrics = {
                "setup_s": setup["setup_s"],
                "pass_s": stats.median(pt) if pt else None,
                "resident_mb": resident,
                "orc_rows_per_s": rows / stats.median(orc) if orc else None,
            }
            units = END_TO_END
        else:
            metrics = self.layer_metrics(setup, loop, load_s, detail)
            units = PER_LAYER
        missing = [k for k, v in metrics.items() if v is None]
        if missing:
            die(f"no samples for {missing}; failures: {self.failures}")
        result = {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }
        return result, detail

    def layer_metrics(self, setup, loop, load_s, detail) -> dict:
        import tracing

        plain = loop["passes"]["plain"]
        traced = loop["passes"]["traced"]
        if not traced:
            die("traced run finished no traced pass; raise --seconds")

        def med(vals):
            return stats.median(vals) if vals else 0.0

        def per_pass(key):
            return med([sum(v[2][key] for v in rec["slots"].values()) for rec in traced])

        spans = self.tracer.spans
        self_s = tracing.layer_self_time([s for s in spans if s.pass_id.startswith("pass")])
        n_traced = len(traced)
        dedup_rows = [
            (sum(rec["slots"][s][2]["max_join_rows"] for s in self.wl.dedup_slots),
             sum(rec["slots"][s][2]["output_rows"] for s in self.wl.dedup_slots))
            for rec in traced
        ]
        cand = med([c for c, _ in dedup_rows])
        pairs = med([p for _, p in dedup_rows])
        plain_t = [sum(p + e for p, e, _ in rec["slots"].values()) for rec in plain]
        traced_t = [sum(p + e for p, e, _ in rec["slots"].values()) for rec in traced]
        detail["layer_self_s_per_pass"] = {k: v / n_traced for k, v in self_s.items()}
        detail["slot_plan_s"] = {s: med([r["slots"][s][0] for r in traced]) for s in self.wl.slots}
        detail["slot_exec_s"] = {s: med([r["slots"][s][1] for r in traced]) for s in self.wl.slots}
        detail["catalog_load_table_s"] = load_s
        trace_path = os.path.join(ROOT, ".bench_work", "traces")
        os.makedirs(trace_path, exist_ok=True)
        trace_file = os.path.join(trace_path, f"{self.wl.name}-seed{self.args.seed}.json")
        self.tracer.dump(trace_file)
        detail["trace_file"] = os.path.relpath(trace_file, ROOT)
        mb = 1e6
        return {
            "operators.plan_s": med([sum(v[0] for v in r["slots"].values()) for r in traced]),
            "operators.exec_s": med([sum(v[1] for v in r["slots"].values()) for r in traced]),
            "operators.cold_s": sum(setup["cold_s"].values()),
            "catalog.load_table_s": sum(load_s.values()),
            "artifacts.hits": med([r["hits"] for r in plain + traced]),
            "artifacts.builds": setup["artifact_builds"],
            "artifacts.warm_builds": loop["warm_builds"],
            "artifacts.build_s": setup["artifact_build_s"],
            "exec.scan_ms": per_pass("scan_ms"),
            "exec.exchange_ms": per_pass("exchange_ms"),
            "exec.join_ms": per_pass("join_ms"),
            "exec.agg_ms": per_pass("agg_ms"),
            "exec.sort_ms": per_pass("sort_ms"),
            "exec.python_ms": per_pass("python_ms"),
            "exec.other_ms": per_pass("other_ms"),
            "exec.shuffle_write_mb": per_pass("shuffle_write_b") / mb,
            "exec.shuffle_read_mb": per_pass("shuffle_read_b") / mb,
            "exec.spill_mb": per_pass("spill_b") / mb,
            "exec.python_sent_mb": per_pass("python_sent_b") / mb,
            "exec.python_recv_mb": per_pass("python_recv_b") / mb,
            "dedup.candidates": cand,
            "dedup.pairs": pairs,
            "dedup.admission": pairs / cand if cand else 0.0,
            "sources.write_orc_s": med(self.ingest.write_s),
            "sources.write_mb": med(self.ingest.write_mb),
            "jvm.gc_s": med([r["jvm"]["gc_s"] for r in plain]),
            "jvm.jit_s": med([r["jvm"]["jit_s"] for r in plain]),
            "codegen.compiles": med([r["jvm"]["codegen_compiles"] for r in plain]),
            "host.steal_pct": loop["steal_pct"],
            "trace.overhead_s": med(traced_t) - med(plain_t),
        }


def main(argv=None) -> None:
    args = parse_args(argv)
    if not (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(ROOT, "pim_orc_spark"))
    ):
        die("run from the root of a pim_orc_spark checkout (no __spark_entry__.py or pim_orc_spark/ here)")
    if args.seconds <= 0:
        die("--seconds must be positive")
    work = os.path.join(ROOT, ".bench_work")
    inputs = prepare_inputs(work, args.seed, args.scale, bool(WORKLOADS[args.workload].scan_slots))
    t0 = time.perf_counter()
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    pin_environment(run_dir)
    sys.path.insert(0, ROOT)
    try:
        bench = Bench(args, inputs, run_dir, t0)
        try:
            result, detail = bench.run()
        finally:
            bench.stop()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    detail["wall_s"] = time.perf_counter() - T_START
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
