"""Crawl benchmark: one workload per invocation, one Spark driver process.

    python3 perfbench/run.py --workload recrawl_ttl --seed 42 --seconds 10 --trace 0

Run from the repository root. It generates (or reuses) the seeded corpus,
sets the crawl up three times and reports the median set-up, then times
``run_crawl`` at local[nproc] with tracing off, checks the crawl's outputs
and prints every metric by name and unit. The last stdout line is one JSON
object with ``correct``, ``attempted`` (rounds), ``failed`` (rounds) and
``metrics``: the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
its per-layer metrics with ``--trace 1``. See perfbench/README.md.
"""

import time

PROCESS_START = time.time()  # setup_s of the first set-up counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"  # corpora cache, spans, per-run scratch
SETUP_REPS = 3
DRIVER_MEM = "2g"  # a 15 GB machine shared with other jobs


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="minimum timed crawl time: the fixed crawl repeats "
                        "on a fresh state until this much has been timed")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(tmp: Path) -> None:
    """Everything the run writes stays under ``tmp``; Spark's Python workers
    import the package from the checkout; memory sized to the machine."""
    tmp.mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ.pop("FC_NO_PRIME", None)  # set-up includes the session prime
    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))


def declared_metrics() -> tuple[dict, dict]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


class Driver:
    """Owns the Spark session (and its JVM) of one benchmark run."""

    def __init__(self, cores: int, tmp: Path):
        self.cores = cores
        self.tmp = tmp
        self.spark = None

    def start(self, extra_conf: dict | None = None):
        from fraudcrawler_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(self.tmp / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            **(extra_conf or {}),
        }
        self.spark = get_spark("perfbench", cores=self.cores, extra_conf=conf)
        return self.spark

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_usage(root: str) -> tuple[int, int]:
    size = files = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


def results_file(workload: str) -> Path:
    d = WORK / "results"
    d.mkdir(parents=True, exist_ok=True)
    return d / f"{workload}.jsonl"


def untraced_reference(args) -> float:
    """Median untraced crawl_s of this workload recorded in this checkout:
    the same seed's runs if there are any, else every seed's. With none
    recorded yet, one untraced run of this seed is made first, in a child
    process that ends before this run starts its own JVM."""
    def load():
        p = results_file(args.workload)
        recs = [json.loads(ln) for ln in p.read_text().splitlines()] \
            if p.exists() else []
        same = [r["crawl_s"] for r in recs if r["seed"] == args.seed]
        return same or [r["crawl_s"] for r in recs]

    vals = load()
    if not vals:
        subprocess.run(
            [sys.executable, str(Path(__file__).resolve()),
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.DEVNULL, check=True)
        vals = load()
    if not vals:
        raise RuntimeError("the untraced reference run recorded no result")
    return statistics.median(vals)


class Bench:
    def __init__(self, args, tmp: Path):
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.tmp = tmp
        self.driver = Driver(len(os.sched_getaffinity(0)), tmp)
        self.tracer = None
        if args.trace:
            from perfbench.tracing import Tracer

            self.tracer = Tracer(f"{args.workload}-seed{args.seed}-"
                                 f"{int(PROCESS_START)}-{os.getpid()}")
        self.failures: dict[int, list[str]] = {}
        self.global_errors: list[str] = []
        self.attempted = 0
        self.failed = 0

    # -- set-up ------------------------------------------------------------
    def setup(self, i: int, t0: float, extra_conf: dict | None = None) -> dict:
        """get_spark (with its prime) + read_corpus + crawl init, timed."""
        from fraudcrawler_spark.pipeline import read_corpus
        from perfbench.tracing import span
        from perfbench.workloads import seed_crawl

        t = time.time()
        with span(self.tracer, "session.get_spark", setup=i):
            spark = self.driver.start(extra_conf)
        t_get = time.time()
        with span(self.tracer, "pipeline.read_corpus", setup=i):
            tables = read_corpus(spark, self.corpus)
        t_read = time.time()
        root = str(self.tmp / f"state{i}")
        with span(self.tracer, "crawl.init", setup=i):
            seed_crawl(spark, self.wl, self.corpus, tables, root)
        end = time.time()
        return {"total": end - t0, "get_spark": t_get - t,
                "read_corpus": t_read - t_get, "init": end - t_read,
                "root": root}

    # -- timed crawl -------------------------------------------------------
    def crawl(self, root: str, tracer=None) -> dict:
        from fraudcrawler_spark.frontier.crawl import run_crawl
        from perfbench.tracing import span
        from perfbench.workloads import RoundTimer

        error = None
        with RoundTimer(tracer) as timer:
            t = time.perf_counter()
            try:
                with span(tracer, "crawl.run_crawl"):
                    run_crawl(self.driver.spark, self.corpus, root,
                              self.wl.config, max_rounds=self.wl.rounds)
            except Exception as e:  # a failed round is counted, not fatal
                error = f"{type(e).__name__}: {e}"
            crawl_s = time.perf_counter() - t
        return {"root": root, "crawl_s": crawl_s, "rounds": timer.rounds,
                "error": error}

    def check(self, rep: dict) -> None:
        """Output checks outside the timed region; fills rep['rows']."""
        from perfbench import checks

        root = rep["root"]
        ok_rounds = [r for r in rep["rounds"] if r["error"] is None]
        rep["rows"] = checks.metrics_rows(root, len(ok_rounds))
        for r, row in zip(ok_rounds, rep["rows"]):
            r["row"] = row
        rep["state_bytes"], rep["state_files"] = dir_usage(root)
        bad = checks.identity_failures(root, rep["rows"])
        if self.wl.simulate:
            bad = checks.merge(bad, checks.simulator_failures(
                root, len(rep["rows"]), self.sim))
        else:
            bad = checks.merge(bad, checks.bulk_failures(
                root, rep["rows"], self.corpus))
        for r in rep["rounds"]:
            if r["error"] is not None:
                bad.setdefault(r["round"], []).append(r["error"])
        if rep["error"] is not None and not any(
                r["error"] for r in rep["rounds"]):
            self.global_errors.append(rep["error"])
        self.attempted += len(rep["rounds"])
        self.failed += len(bad)
        for r, msgs in bad.items():
            self.failures.setdefault(r, []).extend(msgs)

    # -- the run -----------------------------------------------------------
    def execute(self) -> tuple[dict, dict]:
        """Input preparation (corpus, simulator, in trace mode the untraced
        reference) is timed apart and excluded from set-up."""
        from perfbench.workloads import ensure_corpus

        t = time.perf_counter()
        cache = WORK / "corpora"
        cache.mkdir(parents=True, exist_ok=True)
        self.corpus, _ = ensure_corpus(cache, self.wl, self.args.seed)
        if self.wl.simulate:
            from tests.ref_sim import simulate_crawl

            self.sim = simulate_crawl(self.corpus, self.wl.config,
                                      max_rounds=self.wl.rounds)
        if self.tracer is not None:
            self.reference = untraced_reference(self.args)
        prep_s = time.perf_counter() - t
        try:
            setups = self.setups(prep_s)
            if self.tracer is not None:
                return self._traced(setups)
            reps = [self.crawl(setups[-1]["root"])]
            while sum(r["crawl_s"] for r in reps) < self.args.seconds:
                root = str(self.tmp / f"state-rep{len(reps)}")
                self._seed_untimed(root)
                reps.append(self.crawl(root))
        finally:
            self.driver.shutdown()
        for rep in reps:
            self.check(rep)
        self.reps = reps
        e2e = self._end_to_end(setups, reps)
        if self.failed == 0 and not self.global_errors:
            with open(results_file(self.args.workload), "a") as f:
                f.write(json.dumps({"seed": self.args.seed,
                                    "crawl_s": e2e["crawl_s"]}) + "\n")
        return e2e, {}

    def setups(self, prep_s: float) -> list[dict]:
        setups = []
        for i in range(SETUP_REPS):
            # the first set-up counts from process start, minus input
            # preparation; later ones start a new session in the same JVM
            t0 = PROCESS_START + prep_s if i == 0 else time.time()
            extra = None
            if self.tracer is not None and i == SETUP_REPS - 1:
                from perfbench.tracing import event_log_conf

                self.event_dir = self.tmp / "eventlog"
                extra = event_log_conf(self.event_dir)
            setups.append(self.setup(i, t0, extra))
            if i < SETUP_REPS - 1:
                shutil.rmtree(setups[-1]["root"], ignore_errors=True)
        return setups

    def _seed_untimed(self, root: str) -> None:
        from fraudcrawler_spark.pipeline import read_corpus
        from perfbench.workloads import seed_crawl

        tables = read_corpus(self.driver.spark, self.corpus)
        seed_crawl(self.driver.spark, self.wl, self.corpus, tables, root)

    def _traced(self, setups: list[dict]) -> tuple[dict, dict]:
        """The traced crawl sits where the untraced run times its crawl: the
        first crawl after the same three set-ups, in the third session
        (which also writes the event log). A second crawl in the same JVM
        would run warmer, so the untraced reference comes from untraced
        runs of this workload (see untraced_reference)."""
        from perfbench import kernels
        from perfbench.tracing import fold_event_log, install_layer_spans

        install_layer_spans(self.tracer)
        try:
            traced = self.crawl(setups[-1]["root"], self.tracer)
        finally:
            self.tracer.uninstall()
        rss = vm_hwm_mb(self.driver.jvm_pid()) + vm_hwm_mb("self")
        self.driver.shutdown()  # flushes and closes the event log
        self.check(traced)
        self.reps = [traced]
        self.tracer.write(WORK / "trace" / f"{self.tracer.run_id}.json")

        ok = [r for r in traced["rounds"] if "row" in r]
        layer = self._crawl_layer(traced, ok)
        layer.update(fold_event_log(self.event_dir, ok))
        filt, errs = kernels.filter_probe(self.args.seed)
        layer.update(filt)
        self.global_errors += errs
        ext, errs = kernels.extract_probe(self.corpus)
        layer.update(ext)
        self.global_errors += errs
        layer.update({
            "session.get_spark_s": statistics.median(
                s["get_spark"] for s in setups),
            "pipeline.read_corpus_s": statistics.median(
                s["read_corpus"] for s in setups),
            "crawl.init_s": statistics.median(s["init"] for s in setups),
            "setup.cold_s": setups[0]["total"],
            "trace.overhead": traced["crawl_s"] / self.reference,
            "round_fail_ratio": self.failed / max(self.attempted, 1),
            "driver_rss_mb": rss,
        })
        return self._end_to_end(setups, [traced]), layer

    def _crawl_layer(self, rep: dict, ok: list[dict]) -> dict:
        from perfbench import checks
        from perfbench.tracing import PHASES

        rows = [r["row"] for r in ok]
        n = max(len(ok), 1)
        out = {f"crawl.t_{p}_s": sum(row[f"t_{p}"] for row in rows)
               for p in PHASES}
        out["crawl.t_commit_s"] = sum(r["wall"] - r["row"]["elapsed_sec"]
                                      for r in ok)
        out["crawl.round0_s"] = ok[0]["wall"] if ok else 0.0
        out["crawl.rounds"] = len(ok)
        for k in ("n_frontier", "n_scheduled", "n_new", "n_deferred",
                  "n_blocked", "n_enqueued"):
            out[f"crawl.{k}"] = sum(row[k] for row in rows)
        out["crawl.new_per_scheduled"] = (
            out["crawl.n_new"] / max(out["crawl.n_scheduled"], 1))
        # per-phase times plus t_commit must account for each round's wall
        shares = [(sum(r["row"][f"t_{p}"] for p in PHASES)
                   + r["wall"] - r["row"]["elapsed_sec"]) / r["wall"]
                  for r in ok]
        out["trace.accounted_share"] = min(shares) if shares else 0.0
        if any(abs(1.0 - s) > 0.05 for s in shares):
            self.global_errors.append(
                "phase times + t_commit miss a round's wall time by >5%")
        out["seen.fill_ratio"] = max((row["seen_fill_ratio"] for row in rows),
                                     default=0.0)

        def in_rounds(name):
            return [s for s in self.tracer.named(name)
                    if self.tracer.enclosing(s, "crawl.run_round")]

        def dur(spans):
            return sum(s["end"] - s["start"] for s in spans)

        out["seen.probe_and_claim_s"] = dur(in_rounds("seen.probe_and_claim"))
        out["seen.retire_calls"] = len(in_rounds("seen.retire"))
        out["checkpoint.writes_per_round"] = len(
            in_rounds("checkpoint.write")) / n
        out["checkpoint.commit_s"] = dur(in_rounds("checkpoint.commit"))
        out["checkpoint.read_all_calls_per_round"] = len(
            in_rounds("checkpoint.read_all")) / n
        out["checkpoint.state_files"] = rep["state_files"]
        hits = checks.read_rounds(rep["root"], "results", len(ok),
                                  ["fetch_status"])
        out["fetch.docs"] = int((hits["fetch_status"] == "hit").sum())
        return out

    def _end_to_end(self, setups, reps) -> dict:
        rounds = [r for rep in reps for r in rep["rounds"]
                  if r["error"] is None]
        rates = [sum(row["n_new"] for row in rep["rows"]) / rep["crawl_s"]
                 for rep in reps]
        return {
            "setup_s": statistics.median(s["total"] for s in setups),
            "crawl_s": statistics.median(r["crawl_s"] for r in reps),
            "claimed_urls_per_s": statistics.median(rates),
            "round_p50_s": statistics.median(r["wall"] for r in rounds)
            if rounds else 0.0,
            "state_mb": statistics.median(r["state_bytes"] for r in reps) / 1e6,
            "_rounds": len(rounds),
            "_reps": len(reps),
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "fraudcrawler_spark" / "__init__.py").is_file():
        print("perfbench: fraudcrawler_spark/ not found next to perfbench/; "
              "run from a full checkout of the repository", file=sys.stderr)
        return 2
    tmp = WORK / "tmp" / f"{args.workload}-{os.getpid()}"
    prepare_env(tmp)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    from perfbench.tracing import PHASES

    e2e_units, layer_units = declared_metrics()
    bench = Bench(args, tmp)
    try:
        e2e, layer = bench.execute()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print(f"workload {args.workload} seed {args.seed} "
          f"cores {bench.driver.cores} trace {args.trace}")
    print(f"  samples: {e2e.pop('_rounds')} rounds over {e2e.pop('_reps')} "
          f"crawl(s) of max_rounds={bench.wl.rounds}; {SETUP_REPS} set-ups")
    for rep in bench.reps:
        for r in rep["rounds"]:
            row = r.get("row", {})
            phases = " ".join(f"{p} {row[f't_{p}']:.2f}" for p in PHASES
                              if f"t_{p}" in row)
            print(f"  round {r['round']}: wall {r['wall']:.2f} s ({phases})")
    for name, unit in e2e_units.items():
        print(f"  {name:<40} {e2e[name]:>16.6g} {unit}")
    print(f"  round_fail_ratio: {bench.failed}/{bench.attempted} rounds")
    for name, unit in layer_units.items():
        if name in layer:
            print(f"  {name:<40} {layer[name]:>16.6g} {unit}")
    for r, msgs in sorted(bench.failures.items()):
        print(f"  FAILED round {r}: {'; '.join(msgs)}")
    for msg in bench.global_errors:
        print(f"  FAILED: {msg}")

    values, units = (layer, layer_units) if args.trace else (e2e, e2e_units)
    missing = sorted(set(units) - set(values))
    if missing:
        print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
        return 3
    result = {
        "correct": bench.failed == 0 and not bench.global_errors,
        "attempted": max(bench.attempted, 1),
        "failed": bench.failed if bench.attempted else 1,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
