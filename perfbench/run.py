"""spark-graft benchmark: one command, two timed workloads, checked outputs.

    python3 perfbench/run.py --workload {etl_load,wire_roundtrip}
        --seed N --seconds S --trace {0,1}

Run from the repository root. The run generates its own input tables from
``--seed`` at the workload's scale factor (perfbench/datagen.py, sizes in
perfbench/workloads.py), builds a session with
``session.get_spark`` and the engine's defaults at ``local[<cores>]``, and
drives the workload from one closed-loop client: one unit at a time, back
to back, each unit one pass over the workload's keys in the run's
seed-chosen order, with the Spark cache cleared before every unit.

Set-up is the process start, the session, the registry import and a first
unit that collects every key and checks it against its DuckDB oracle. That
first unit is discarded, as are the workload's warm-up units after it; timed
units then run for ``--seconds``. ``--trace 0`` prints
the end-to-end metrics, ``--trace 1`` the per-layer ones (spans around each
key, Spark status-store counters, direct codec probes, catalog scan probes,
and one cold pass over the keys of the other workload and the query
surface, collected and checked against their oracles). The last stdout line is a JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.

Everything the run writes lives in a temporary directory under
``.perfbench_tmp/`` in the repository root and is removed at exit.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import datagen
import observe
from workloads import CATALOG_TABLES, QUERY_PROBE, WORKLOADS, all_keys, batch_etl_step, key_metric

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_ch_destination_spark"
MB = 1e6
# A median of three units drops one slow unit (a wire pass's first timed
# unit often is one); two would be averaged. A traced run's three are two
# untraced and one traced.
MIN_TIMED_UNITS = 3

END_TO_END_UNITS = {
    "setup_s": "s",
    "unit_s": "s",
    "cpu_s": "s",
    "out_mb": "MB",
}
SPARK_UNITS = {
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.stages": "count",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.exec_cpu_s": "s",
    "spark.exec_run_s": "s",
    "spark.python_worker_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.core_busy": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    from sinkprobe import FORMATS

    units = {"session.start_s": "s", "session.prime_s": "s", "peak_rss_mb": "MB"}
    units.update({f"catalog.scan_s.{t}": "s" for t in CATALOG_TABLES})
    units.update({key_metric(k): "s" for k in all_keys()})
    units.update({f"jobs.batch_etl.{s}_s": "s" for s in ("extract", "load", "verify")})
    for fmt in FORMATS:
        units[f"sink.{fmt}.encode_us_per_row"] = "us"
        units[f"sink.{fmt}.decode_us_per_row"] = "us"
    units.update(SPARK_UNITS)
    units["jvm.jit_s"] = "s"
    units.update({"trace.overhead_s": "s", "trace.unaccounted_s": "s"})
    return units


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=12.0, help="timed phase length")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--sf", type=float, default=None, help="generated input scale factor (default: the workload's)"
    )
    ap.add_argument("--detail", default=None, help="also write a JSON detail file here")
    ap.add_argument(
        "--inject-wrong",
        default=None,
        metavar="KEY",
        help="corrupt KEY's collected rows (proves a wrong result is counted)",
    )
    return ap.parse_args(argv)


def calibrate(spark) -> float:
    """bench.py's ``calib_sec``: the median of its fixed-work spins (a
    pure-Python loop plus a one-task JVM aggregate), so ``host.calib_s``
    lines up with that history."""
    from bench import CALIB_RUNS, _calib_once

    return statistics.median(_calib_once(spark) for _ in range(CALIB_RUNS))


class Bench:
    def __init__(self, args, run_dir: str, cores: int):
        self.args = args
        self.cores = cores
        self.workload = WORKLOADS[args.workload]
        self.sf = args.sf if args.sf is not None else self.workload.sf
        self.data_dir = os.path.join(run_dir, "data")
        self.warehouse = os.path.join(run_dir, "warehouse")
        self.rng = random.Random(args.seed)
        self.tree = observe.ProcTree()
        self.tracer = observe.Tracer()
        self.spark = None
        self.counters = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.expected: dict[str, tuple] = {}
        self.units: list[dict] = []
        self.orders: dict[tuple, list[str]] = {}
        self.detail: dict = {"seed": args.seed, "workload": args.workload}

    # -- set-up -----------------------------------------------------------

    def setup(self) -> float:
        from etl_ch_destination_spark import registry
        from etl_ch_destination_spark.session import get_spark

        t0 = time.perf_counter()
        self.detail["rows"] = datagen.write(self.data_dir, self.args.seed, self.sf)
        gen_s = time.perf_counter() - t0

        self.tree.start()
        with self.tracer.span("session.start_s") as start:
            self.spark = get_spark(
                "perfbench",
                extra_conf={
                    "spark.sql.warehouse.dir": self.warehouse,
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tempfile.gettempdir()}",
                },
            )
        with self.tracer.span("registry"):
            self.queries = registry.all_queries()
            self.oracles = registry.all_oracles()
        self.counters = observe.SparkCounters(self.spark)
        first = self.run_unit(self.workload.keys, "collect", traced=False, tag="prime")
        setup_s = observe.seconds_since_process_start() - gen_s
        self.prime_s = first["wall"]
        self.start_s = start["end"] - start["start"]
        self.check_against_oracles(first)
        return setup_s

    def oracle_rows(self, key: str):
        """(rows, columns) the DuckDB oracle gives for ``key``; None if the key
        is rows-only."""
        if key not in self.expected:
            sql = self.oracles.get(key)
            if sql is None:
                self.expected[key] = None
            else:
                from check_parity import duck_connection

                con = duck_connection(self.data_dir)
                try:
                    cur = con.execute(sql)
                    cols = [d[0] for d in cur.description]
                    self.expected[key] = (cur.fetchall(), cols)
                finally:
                    con.close()
        return self.expected[key]

    def check_against_oracles(self, unit: dict) -> None:
        from check_parity import compare

        for key, (rows, cols) in unit["collected"].items():
            expected = self.oracle_rows(key)
            if expected is None:  # rows-only key: an empty result is wrong
                if not rows:
                    self.fail(f"{unit['tag']}/{key}: 0 rows")
                continue
            problems = compare(rows, cols, *expected)
            if problems:
                self.fail(f"{unit['tag']}/{key}: {problems[0]}")

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.failures.append(msg)
        print(f"perfbench: FAIL {msg}", file=sys.stderr)

    # -- one unit ---------------------------------------------------------

    def key_order(self, keys) -> list[str]:
        """The run's seed-chosen order of ``keys``, the same in every pass.

        Spark keeps its generated classes in an LRU cache of 100 entries,
        fewer than a load cycle uses, so whether a key's classes are still
        cached depends on which keys ran since its last run. With a new order
        per pass, an etl_load unit recompiled (and the JIT compiled again)
        between 18 and 55 classes, the order alone deciding. In one fixed
        order every key runs a full cycle after its previous run, and every
        unit recompiles the same ~60 whichever order the seed chose.
        """
        keys = tuple(keys)
        if keys not in self.orders:
            order = list(keys)
            self.rng.shuffle(order)
            self.orders[keys] = order
        return self.orders[keys]

    def run_unit(self, keys, action: str, traced: bool, tag: str) -> dict:
        spark = self.spark
        order = self.key_order(keys)
        collected: dict[str, tuple] = {}
        per_key: dict[str, float] = {}
        key_starts: list[tuple[float, str]] = []
        spark.catalog.clearCache()
        self.counters.collect(detail=False)  # whatever ran between units
        cpu0, jit0, gc0 = self.tree.cpu_s(), self.counters.jit_s(), self.counters.gc_s()
        wall0 = time.time()
        with self.tracer.span(f"unit/{tag}") as unit_span:
            for key in order:
                self.attempted += 1
                key_starts.append((time.time(), key))
                with self.tracer.span(key_metric(key)) as key_span:
                    try:
                        with self.tracer.span("build"):
                            df = self.queries[key](spark, self.data_dir)
                        with self.tracer.span("action"):
                            if action == "collect":
                                rows = [tuple(r) for r in df.collect()]
                                if key == self.args.inject_wrong:
                                    rows = rows[:-1] if rows else [(None,) * len(df.columns)]
                                collected[key] = (rows, df.columns)
                            else:
                                df.write.format("noop").mode("overwrite").save()
                    except Exception as exc:  # noqa: BLE001  (counted; other keys go on)
                        self.fail(f"{tag}/{key}: {type(exc).__name__}: {exc}".splitlines()[0])
                        traceback.print_exc(file=sys.stderr)
                per_key[key] = key_span["end"] - key_span["start"]
        wall1 = time.time()
        # jvm.jit_s explains a cpu_s move due to the JIT compiler's threads;
        # cpu_s itself is the whole tree's CPU, compilation included.
        jit = self.counters.jit_s() - jit0
        cpu = self.tree.cpu_s() - cpu0
        # Read after the unit's clock stopped; an untraced unit reads only
        # stage totals, for the bytes its tasks wrote.
        counts = self.counters.collect(key_starts, detail=traced)
        unit = {
            "tag": tag,
            "traced": traced,
            "wall": unit_span["end"] - unit_span["start"],
            "cpu": cpu,
            "jit": jit,
            "gc": self.counters.gc_s() - gc0,
            "out_bytes": sum(s["output_b"] + s["shuffle_write_b"] for s in counts["stages"]),
            "per_key": per_key,
            "span": unit_span,
            "collected": collected,
        }
        if traced:
            unit["spark"] = self.spark_summary(counts, wall0, wall1)
        return unit

    def spark_summary(self, c: dict, wall0: float, wall1: float) -> dict:

        st = c["stages"]
        wall = wall1 - wall0  # wall clock, as the status store's stage times
        run_s = sum(s["run_s"] for s in st)
        busy = observe.union_length(
            [(s["start"], s["end"]) for s in st if s["start"] and s["end"]], wall0, wall1
        )
        steps = {"extract": 0.0, "load": 0.0, "verify": 0.0}
        for j in c["jobs"]:
            if j["key"] == "job_batch_etl" and j["start"] and j["end"]:
                steps[batch_etl_step(j["site"])] += j["end"] - j["start"]
        return {
            "spark.shuffle_write_mb": sum(s["shuffle_write_b"] for s in st) / MB,
            "spark.shuffle_read_mb": sum(s["shuffle_read_b"] for s in st) / MB,
            "spark.stages": len(st),
            "spark.spill_mb": sum(s["spill_b"] for s in st) / MB,
            "spark.exec_cpu_s": sum(s["cpu_s"] for s in st),
            "spark.exec_run_s": run_s,
            "spark.python_worker_s": c["python_worker_s"],
            "spark.jobs": len(c["jobs"]),
            "spark.tasks": sum(s["tasks"] for s in st),
            "spark.driver_gap_s": wall - busy,
            "spark.core_busy": run_s / (wall * self.cores),
            "batch_etl_steps": steps if any(steps.values()) else None,
            "stages_by_key": dict(collections.Counter(s["key"] for s in st)),
            "job_sites": sorted({f"{j['key']}: {j['site']}" for j in c["jobs"]}),
        }

    # -- measurement ------------------------------------------------------

    def measure(self) -> None:
        """Run the workload's warm-up units, then time units for --seconds,
        and at least MIN_TIMED_UNITS of them. Warm-up units are checked like
        timed ones but not reported. A traced run alternates untraced and
        traced units, so their difference is the trace overhead."""
        w = self.workload
        for i in range(w.warmup):
            unit = self.run_unit(w.keys, w.action, traced=False, tag=f"warm{i}")
            if w.action == "collect":
                self.check_against_oracles(unit)
        self.tree.reset_peak()
        t_end = time.time() + self.args.seconds
        n = 0
        while True:
            traced = bool(self.args.trace) and n % 2 == 1
            unit = self.run_unit(w.keys, w.action, traced, tag=f"timed{n}")
            if w.action == "collect":
                self.check_against_oracles(unit)
            unit.pop("collected")
            self.units.append(unit)
            n += 1
            if n >= MIN_TIMED_UNITS and time.time() >= t_end:
                break
        self.peak_rss = self.tree.peak_bytes

    def end_to_end(self, setup_s: float) -> dict[str, float]:
        plain = [u for u in self.units if not u["traced"]]
        return {
            "setup_s": setup_s,
            "unit_s": statistics.median(u["wall"] for u in plain),
            "cpu_s": statistics.median(u["cpu"] for u in plain),
            "out_mb": statistics.median(u["out_bytes"] for u in plain) / MB,
        }

    def per_layer(self) -> dict[str, float]:
        import sinkprobe

        traced = [u for u in self.units if u["traced"]]
        plain = [u for u in self.units if not u["traced"]]
        out: dict[str, float] = {
            "session.start_s": self.start_s,
            "session.prime_s": self.prime_s,
            # Tree RSS is mostly the JVM heap, whose growth follows G1's
            # adaptive sizing: it spreads ~20% across identical runs, too
            # wide to bound as an end-to-end metric.
            "peak_rss_mb": self.peak_rss / MB,
        }
        out.update(self.catalog_probe(CATALOG_TABLES))

        # Keys of the other workloads and the query keys run once, traced,
        # so every per-key metric has a measured value; they are cold and
        # not comparable with the timed workload's own medians.
        others = [w for w in (*WORKLOADS.values(), QUERY_PROBE) if w.name != self.workload.name]
        cross = [self.run_unit(w.keys, "collect", True, tag=f"x-{w.name}") for w in others]
        for key in self.workload.keys:
            out[key_metric(key)] = statistics.median(u["per_key"][key] for u in traced)
        for u in cross:
            self.check_against_oracles(u)
            u.pop("collected")
            for key, secs in u["per_key"].items():
                out[key_metric(key)] = secs

        steps = [u["spark"]["batch_etl_steps"] for u in traced + cross]
        steps = [s for s in steps if s]
        for step in ("extract", "load", "verify"):
            out[f"jobs.batch_etl.{step}_s"] = statistics.median(s[step] for s in steps)

        offset = random.Random(self.args.seed).randrange(
            max(1, self.detail["rows"]["lineitem"] - 2000)
        )
        probes = sinkprobe.probe(self.data_dir, offset)
        for fmt, p in probes.items():
            self.attempted += 1
            if not p["ok"]:
                self.fail(f"sink.{fmt}: {p['error']}")
            out[f"sink.{fmt}.encode_us_per_row"] = p["encode_us_per_row"]
            out[f"sink.{fmt}.decode_us_per_row"] = p["decode_us_per_row"]

        for name in SPARK_UNITS.keys() & traced[0]["spark"].keys():
            out[name] = statistics.median(u["spark"][name] for u in traced)
        out["spark.gc_s"] = statistics.median(u["gc"] for u in traced)
        # The Python-worker time belongs to the wire codecs' boundary; it is
        # taken from the units that ran the wire keys (on etl_load, its
        # cross pass), since the other keys start no Python worker.
        wire = set(WORKLOADS["wire_roundtrip"].keys)
        out["spark.python_worker_s"] = statistics.median(
            u["spark"]["spark.python_worker_s"] for u in traced + cross if set(u["per_key"]) == wire
        )
        out["jvm.jit_s"] = statistics.median(u["jit"] for u in self.units)
        out["trace.overhead_s"] = statistics.median(
            u["wall"] for u in traced
        ) - statistics.median(u["wall"] for u in plain)
        out["trace.unaccounted_s"] = statistics.median(
            u["wall"] - sum(u["per_key"].values()) for u in traced
        )
        self.detail["cross_units"] = cross
        self.detail["sink"] = probes
        return out

    def catalog_probe(self, tables) -> dict[str, float]:
        """``catalog.load_table`` plus a noop action, median of three."""
        from etl_ch_destination_spark.catalog import load_table

        out = {}
        for t in tables:
            times = []
            for _ in range(3):
                self.attempted += 1
                with self.tracer.span(f"catalog.scan_s.{t}") as s:
                    load_table(self.spark, self.data_dir, t).write.format("noop").mode(
                        "overwrite"
                    ).save()
                times.append(s["end"] - s["start"])
            out[f"catalog.scan_s.{t}"] = statistics.median(times)
        return out

    # -- tear-down --------------------------------------------------------

    def close(self) -> None:
        """Stop the session and the JVM, then wait for every process the run
        started to end."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            if self.spark is not None:
                self.spark.stop()
            if gateway is not None:
                gateway.shutdown()
        finally:
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            self.tree.stop()
            left = self.tree.wait_gone()
            if left:
                print(f"perfbench: killed leftover processes {left}", file=sys.stderr)


def report(metrics: dict[str, float], units: dict[str, str]) -> None:
    width = max(len(k) for k in metrics)
    for name, value in metrics.items():
        print(f"  {name:<{width}}  {value:.6g} {units[name]}")


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(
            f"perfbench: the engine package {PACKAGE}/ is not next to perfbench/; "
            "run from a full checkout",
            file=sys.stderr,
        )
        return 2
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))

    cores = len(os.sched_getaffinity(0))
    load1 = os.getloadavg()[0]
    if load1 > 2:
        print(f"perfbench: WARNING host load1 {load1:.2f} > 2; timings are inflated",
              file=sys.stderr)

    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    for sub in ("data", "scratch", "spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ.update(
        SPARK_GRAFT_SCRATCH=os.path.join(run_dir, "scratch"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_CPUS=str(cores),
        TMPDIR=os.path.join(run_dir, "tmp"),
    )
    tempfile.tempdir = os.environ["TMPDIR"]

    bench = Bench(args, run_dir, cores)
    try:
        setup_s = bench.setup()
        calib_s = calibrate(bench.spark)
        bench.measure()
        e2e = bench.end_to_end(setup_s)
        layer = bench.per_layer() if args.trace else {}
        problems = bench.tracer.problems()
    finally:
        bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run is using it

    plain = [u for u in bench.units if not u["traced"]]
    print(f"perfbench {args.workload} seed={args.seed} sf={bench.sf} cores={cores} "
          f"units={len(bench.units)} ({len(plain)} untraced)")
    print(f"  host.load1  {load1:.2f}   host.calib_s  {calib_s:.4f} s   "
          f"peak_rss_mb  {bench.peak_rss / MB:.1f} MB   "
          f"fail_ratio  {bench.failed / bench.attempted:.4f} "
          f"({bench.failed}/{bench.attempted})")
    report(e2e, END_TO_END_UNITS)
    if args.trace:
        report(layer, per_layer_units())
        for p in problems:
            print(f"perfbench: trace problem: {p}", file=sys.stderr)
    for msg in bench.failures:
        print(f"  failed: {msg}")

    if args.detail:
        detail = dict(bench.detail, host={"load1": load1, "calib_s": calib_s},
                      end_to_end=e2e, per_layer=layer, failures=bench.failures,
                      trace_problems=problems,
                      units=[{k: v for k, v in u.items() if k != "span"} for u in bench.units],
                      spans=bench.tracer.spans)
        for u in detail.get("cross_units", []):
            u.pop("span", None)
        with open(args.detail, "w") as f:
            json.dump(detail, f, indent=1, default=str)

    chosen = layer if args.trace else e2e
    units = per_layer_units() if args.trace else END_TO_END_UNITS
    result = {
        "correct": bench.failed == 0 and not problems,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
