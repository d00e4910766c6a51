"""One benchmark process: set-up, checked pass, measured passes.

Queries run back to back in one driver process (a closed loop with one
client), each followed by the release of any checkpoint blocks it
pinned.

- An untraced run gives the gated end-to-end metrics. It times set-up
  once in its own process and, after stopping Spark, in fresh
  processes for ``--seconds`` (:func:`cold_setups`). Its one *checked
  pass* (:func:`checked_pass`) collects every query's result, compares
  it with the oracle, reads the live JVM heap, and counts the pass's
  Spark jobs and shuffle bytes from the status store.
- A traced run checks the results the same way, then runs *passes*
  for ``--seconds``: each query's registered call and a noop sink that
  materializes the result. Plain passes give wall and CPU time per
  pass. Traced passes add spans around each layer call, one Spark job
  group per layer call, status-store reads and the catalog and
  tokenizer probes. The two kinds interleave, so the tracing overhead
  is the difference of their medians.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import subprocess
import sys
import time

import sysmetrics
from engine import StatusStore, Tracer
from workloads import Workload

def pin_environment(root: str) -> dict:
    """Fix the settings the measurements depend on, before the JVM
    starts, and return them. Everything the run writes stays under
    ``.perfbench/`` in the checkout."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(root, ".perfbench", "tmp")
    local = os.path.join(tmp, "spark-local")
    os.makedirs(local, exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # the Spark workers import the package by name
        "PYTHONPATH": ":".join(paths),
    })
    return {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(root, ".perfbench", "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Session:
    """The Spark session, the query registry and the set-up timings."""

    def __init__(self, conf: dict) -> None:
        t0 = time.perf_counter()
        from mapreducewordcounting_spark.session import get_spark
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        from mapreducewordcounting_spark import registry
        self.fns = registry.queries()
        self.oracles = registry.oracle_sql()
        t2 = time.perf_counter()
        self.get_spark_s = t1 - t0
        self.registry_load_s = t2 - t1
        self.setup_s = t2 - t0

    def env(self) -> dict:
        sc = self.spark.sparkContext
        conf = self.spark.conf
        return {
            "spark": self.spark.version,
            "python": sys.version.split()[0],
            "master": sc.master,
            "cpus": os.environ["SPARK_GRAFT_CPUS"],
            "driver_memory": sc.getConf().get("spark.driver.memory"),
            "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
            "aqe": conf.get("spark.sql.adaptive.enabled"),
            "local_dir": os.environ["SPARK_LOCAL_DIRS"],
        }

    def live_heap_mb(self) -> float:
        """Heap the JVM holds live: used heap after a full GC, repeated
        until it stops falling. Spark's context cleaner drops the
        broadcast blocks of plans a GC found dead asynchronously, and
        may take a few tenths of a second on a busy host. Python's
        collector runs first, so JVM objects that only dead Python
        objects referenced are released."""
        gc.collect()
        jvm = self.spark.sparkContext._jvm
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        last = float("inf")
        for _ in range(8):
            jvm.java.lang.System.gc()
            used = heap.getHeapMemoryUsage().getUsed() / 2**20
            if used > last - 1.0:
                return used
            last = used
            time.sleep(0.5)
        return used

    def release(self) -> None:
        from mapreducewordcounting_spark.checkpoints import release_all_pinned
        release_all_pinned(self.spark)

    def stop(self) -> None:
        """Stop Spark and wait until the JVM and its Python workers
        have exited."""
        from pyspark import SparkContext
        children = sysmetrics.descendants(os.getpid())[1:]
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            # the JVM exits when the pipe to its stdin closes
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
            # a later session in this process launches a new JVM
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 15
        while children and time.monotonic() < deadline:
            children = [p for p in children if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for pid in children:
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def cold_setups(seconds: float) -> list[float]:
    """``setup_s`` of fresh processes, one after the other, for
    ``seconds`` and at least once: each a cold start of Python, the JVM
    and the registry. Call it after :func:`pin_environment`, while this
    process runs no Spark, so no two set-ups overlap."""
    samples: list[float] = []
    t0 = time.perf_counter()
    while not samples or time.perf_counter() - t0 < seconds:
        out = subprocess.run([sys.executable, os.path.abspath(__file__)],
                             capture_output=True, text=True, check=True,
                             timeout=120)
        samples.append(json.loads(out.stdout.strip().splitlines()[-1])["setup_s"])
    return samples


def _failure(query: str, exc: Exception) -> str:
    return f"{query}: {type(exc).__name__}: {str(exc)[:200]}"


def _duckdb(input_dir: str, tables):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in tables:
        path = os.path.join(input_dir, f"{t}.parquet", "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def checked_pass(sess: Session, wl: Workload, input_dir: str,
                 stats: dict, oracles: dict | None = None) -> dict:
    """Run every query once, collect its result and compare it with
    the query's DuckDB oracle on the same inputs (type-tagged canonical
    rows, the repository's strict compare). Returns

    - ``failures``: one message per failed query: a raise, a mismatch,
      or a token sum that differs from the generator's count;
    - ``retained_heap_mb``: the largest live heap read after a query
      returned its result, before its checkpoints are released;
    - ``jobs`` and ``shuffle_mb``: Spark jobs and shuffle bytes written
      by the pass;
    - ``run_s`` and ``cpu_s``: wall and process-tree CPU seconds of the
      query calls and collects, without the oracle and the heap reads.
    """
    from oracle_util import canonical_rows

    oracles = oracles or sess.oracles
    sc = sess.spark.sparkContext
    pid = os.getpid()
    con = _duckdb(input_dir, stats["tables"])
    out = {"failures": [], "run_s": 0.0, "cpu_s": 0.0}
    retained = []
    sc.setJobGroup("check", "perfbench checked pass")
    for q in wl.queries:
        try:
            c0, t0 = sysmetrics.tree_cpu_s(pid), time.perf_counter()
            df = sess.fns[q](sess.spark, input_dir)
            collected = df.collect()
            out["run_s"] += time.perf_counter() - t0
            out["cpu_s"] += sysmetrics.tree_cpu_s(pid) - c0
            rows = [r.asDict(recursive=True) for r in collected]
            retained.append(sess.live_heap_mb())
            res = con.execute(oracles[q])
            cols = [c[0] for c in res.description]
            expect = [dict(zip(cols, r)) for r in res.fetchall()]
        except Exception as exc:  # a failing query is a counted result
            out["failures"].append(_failure(q, exc))
            continue
        finally:
            sess.release()
        if sorted(df.columns) != sorted(cols):
            out["failures"].append(f"{q}: columns {sorted(df.columns)} != {sorted(cols)}")
        elif canonical_rows(rows) != canonical_rows(expect):
            out["failures"].append(f"{q}: {len(rows)} rows differ from the "
                                   f"oracle's {len(expect)}")
        elif wl.token_sum and sum(r["cnt"] for r in rows) != stats["tokens"]:
            out["failures"].append(f"{q}: sum(cnt) != {stats['tokens']} tokens")
    sc.setLocalProperty("spark.jobGroup.id", None)
    con.close()
    out["retained_heap_mb"] = max(retained) if retained else sess.live_heap_mb()
    engine = StatusStore(sess.spark).metrics(["check"])
    out["jobs"] = engine["jobs"]
    out["shuffle_mb"] = engine["shuffle_write_mb"]
    return out


def run_query(sess: Session, q: str, input_dir: str,
              failures: list[str]) -> None:
    try:
        noop(sess.fns[q](sess.spark, input_dir))
    except Exception as exc:  # a failing query is a counted result
        failures.append(_failure(q, exc))
    finally:
        sess.release()


class Passes:
    """Runs passes and keeps their samples."""

    def __init__(self, sess: Session, wl: Workload, input_dir: str,
                 stats: dict) -> None:
        self.sess, self.wl, self.dir, self.stats = sess, wl, input_dir, stats
        self.pid = os.getpid()
        self.failures: list[str] = []
        self.attempted = 0
        self.wall: list[float] = []
        self.cpu: list[float] = []
        self.tracer = Tracer()
        self.traced: list[dict] = []
        self._store = None

    def plain(self, record: bool = True) -> None:
        c0 = sysmetrics.tree_cpu_s(self.pid)
        t0 = time.perf_counter()
        for q in self.wl.queries:
            run_query(self.sess, q, self.dir, self.failures)
        if record:
            self.wall.append(time.perf_counter() - t0)
            self.cpu.append(sysmetrics.tree_cpu_s(self.pid) - c0)
        self.attempted += len(self.wl.queries)

    def store(self) -> StatusStore:
        self._store = self._store or StatusStore(self.sess.spark)
        return self._store

    def traced_pass(self) -> None:
        from mapreducewordcounting_spark.checkpoints import n_pinned
        spark, tr = self.sess.spark, self.tracer
        sc = spark.sparkContext
        store = self.store()
        pass_id = f"p{len(self.traced)}"
        rec = {"id": pass_id, "build_groups": [], "sink_groups": [],
               "build_cpu_s": 0.0, "python_s": 0.0, "pinned": 0,
               "pinned_mb": 0.0, "runs": set()}
        t0 = time.perf_counter()
        for q in self.wl.queries:
            run = f"{pass_id}:{q}"
            rec["runs"].add(run)
            with tr.span("query", run, query=q):
                try:
                    sc.setJobGroup(f"{run}:build", f"perfbench {q} build")
                    rec["build_groups"].append(f"{run}:build")
                    c0 = sysmetrics.tree_cpu_s(self.pid)
                    with tr.span("operators.build", run):
                        df = self.sess.fns[q](spark, self.dir)
                    rec["build_cpu_s"] += sysmetrics.tree_cpu_s(self.pid) - c0
                    sc.setJobGroup(f"{run}:sink", f"perfbench {q} sink")
                    rec["sink_groups"].append(f"{run}:sink")
                    with tr.span("sink.exec", run) as sink:
                        noop(df)
                    if q in self.wl.python_queries:
                        rec["python_s"] += sink["end"] - sink["start"]
                except Exception as exc:  # a failing query is a counted result
                    self.failures.append(_failure(q, exc))
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    rec["pinned"] += n_pinned(spark)
                    rec["pinned_mb"] += store.pinned_mb()
                    with tr.span("checkpoints.release", run):
                        self.sess.release()
        groups = rec["build_groups"] + rec["sink_groups"]
        rec["engine"] = store.metrics(groups)
        rec["build_jobs"] = store.job_count(rec["build_groups"])
        rec["sink_jobs"] = store.job_count(rec["sink_groups"])
        rec["wall"] = time.perf_counter() - t0
        rec.update(self._probes(pass_id))
        self.traced.append(rec)
        self.attempted += len(self.wl.queries)

    def _probes(self, pass_id: str) -> dict:
        """Time the catalog and the tokenizer on their own: a noop
        scan of each input table, then a noop explode of the canonical
        tokenizer over ``documents`` (which includes its scan)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from mapreducewordcounting_spark.catalog import load_table
        from mapreducewordcounting_spark.functions.text import tokenize_canonical

        spark, tr = self.sess.spark, self.tracer
        sc = spark.sparkContext
        groups = []
        for t in self.stats["tables"]:
            groups.append(f"{pass_id}:catalog:{t}")
            sc.setJobGroup(groups[-1], f"perfbench scan {t}")
            with tr.span("catalog.scan", pass_id, table=t):
                noop(load_table(spark, self.dir, t))
        sc.setJobGroup(f"{pass_id}:tokenize", "perfbench tokenize")
        obs = Observation("tokens")
        docs = load_table(spark, self.dir, "documents")
        toks = (docs.select(F.explode(tokenize_canonical("text")).alias("w"))
                .filter(F.length("w") > 0)
                .observe(obs, F.count(F.lit(1)).alias("n")))
        with tr.span("functions.text.tokenize", pass_id):
            noop(toks)
        sc.setLocalProperty("spark.jobGroup.id", None)
        scan = self.store().metrics(groups)
        return {"catalog_input_rows": scan["input_records"],
                "tokens": obs.get["n"]}

    def layer_metrics(self) -> dict:
        """Per-layer metrics: the median over traced passes."""
        tr = self.tracer
        per_pass = []
        for rec in self.traced:
            runs, probe = rec["runs"], {rec["id"]}
            eng = rec["engine"]
            per_pass.append({
                "catalog.scan_s": tr.total("catalog.scan", probe),
                "catalog.input_mb": self.stats["bytes"] / 2**20,
                "catalog.input_rows": rec["catalog_input_rows"],
                "functions.text.tokenize_s": tr.total("functions.text.tokenize", probe),
                "functions.text.tokens": rec["tokens"],
                "operators.build_s": tr.total("operators.build", runs),
                "operators.build_jobs": rec["build_jobs"],
                "operators.build_cpu_s": rec["build_cpu_s"],
                "checkpoints.pinned_rdds": rec["pinned"],
                "checkpoints.pinned_mb": rec["pinned_mb"],
                "checkpoints.release_s": tr.total("checkpoints.release", runs),
                "sink.exec_s": tr.total("sink.exec", runs),
                "sink.jobs": rec["sink_jobs"],
                "python.exec_s": rec["python_s"],
                **{f"engine.{k}": v for k, v in eng.items()
                   if k not in ("jobs", "input_records")},
                # shuffle records per token tokenized: every query of
                # the pass tokenizes the corpus once
                "engine.combine_ratio": eng["shuffle_records"]
                / max(rec["tokens"] * len(self.wl.queries), 1),
            })
        out = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
        out.update(self.pass_metrics())
        out["peak_rss_mb"] = sysmetrics.peak_rss_mb(
            sysmetrics.jvm_pid(self.pid) or self.pid)
        out["session.get_spark_s"] = self.sess.get_spark_s
        out["registry.load_s"] = self.sess.registry_load_s
        out["trace.overhead_s"] = (statistics.median(r["wall"] for r in self.traced)
                                   - statistics.median(self.wall))
        return out

    def pass_metrics(self) -> dict:
        """Wall and CPU time per plain pass (medians)."""
        run_s = statistics.median(self.wall)
        rows = sum(self.stats["tables"].values()) * len(self.wl.queries)
        return {"run_s": run_s, "input_rows_per_s": rows / run_s,
                "cpu_s": statistics.median(self.cpu)}


def measure(passes: Passes, seconds: float) -> None:
    """After the workload's untimed warm passes, run plain and traced
    passes for ``seconds``, at least two of each, in the order plain,
    traced, traced, plain, ... so a drift during the run biases
    neither kind."""
    for _ in range(passes.wl.warm_passes):
        passes.plain(record=False)
    order = (passes.plain, passes.traced_pass)
    t0 = time.perf_counter()
    while True:
        for step in order:
            step()
        if len(passes.wall) >= 2 and time.perf_counter() - t0 >= seconds:
            return
        order = order[::-1]


if __name__ == "__main__":
    # one cold set-up for cold_setups(); prints {"setup_s": ...}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(1, root)
    sess = Session(pin_environment(root))
    sess.stop()
    print(json.dumps({"setup_s": sess.setup_s}), flush=True)
