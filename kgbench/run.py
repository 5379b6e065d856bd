"""KG-construction benchmark: one command, seeded inputs, checked outputs.

Run from the repository root:

    python3 kgbench/run.py --workload build_repeat --seed 1 --seconds 5 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` replays one
build layer by layer under spans, serves a slice of the input through
staged tables, queries and a streamed upsert, and prints the per-layer
metrics read from Spark's event log.  The last line of standard output
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
See kgbench/README.md for the workloads and every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import host  # noqa: E402

# Input sizes per workload: ``convs`` x ``turns`` turns in ``files``
# parquet files; in a traced run the first ``slice_convs`` conversations,
# split into two files, feed the served slice (staged tables, queries,
# stream).  ``names`` > 0 selects the vocabulary-heavy generator with that
# pool.  build_repeat: the memo and the two Python crossings do the work;
# at 80k turns they outweigh linking's fixed cost.  build_vocab: every
# text is distinct and the resolution ladder (fuzzy scoring, then pair
# scoring of the unseen names) does the work.  (kgbench/README.md)
# ``builds`` is the number of timed warm builds of an untraced run,
# however long they take.  build_vocab's builds are short, mostly the
# engine's fixed per-build cost, and spread more from run to run, so it
# takes the median of three; build_repeat's longer builds take two, which
# keeps a run within the time budget.
WORKLOADS = {
    "build_repeat": {"convs": 10000, "turns": 8, "files": 4, "slice_convs": 30,
                     "names": 0, "builds": 2},
    "build_vocab": {"convs": 110, "turns": 8, "files": 4, "slice_convs": 30,
                    "names": 600, "builds": 3},
}
SAMPLE_CONVS = 30  # conversations checked against the golden triples
SETUP_REPS = 3     # input generations per run; setup_s takes the median


def conv_index(row) -> int:
    return int(row[0].split("_")[1])


def log(msg: str) -> None:
    print(msg, flush=True)


def generate(name: str, seed: int) -> list:
    spec = WORKLOADS[name]
    if spec["names"]:
        pool = gen.vocab_pool(seed, spec["names"])
        return [
            r for c in range(spec["convs"])
            for r in gen.vocab_rows(seed, c, spec["turns"], pool)
        ]
    return [r for c in range(spec["convs"]) for r in gen.repeat_rows(seed, c, spec["turns"])]


class Run:
    """One benchmark run: counts operations and failed checks."""

    def __init__(self, args) -> None:
        self.args = args
        self.spec = WORKLOADS[args.workload]
        self.work = ROOT / ".kgbench_work" / f"{args.workload}-{os.getpid()}"
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.peak = None

    def check(self, name: str, ok: bool, detail=None) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"CHECK FAILED {name}: {detail}")
        return ok

    def op(self, name: str, fn):
        """Run one operation; an exception counts as a failed operation."""
        try:
            return fn()
        except Exception:  # one failed operation must not end the run
            self.attempted += 1
            self.failed += 1
            log(f"OPERATION FAILED {name}:\n{traceback.format_exc()}")
            return None

    # -- set-up ---------------------------------------------------------------

    def setup(self) -> None:
        from islamic_ner_spark.hostguard import foreign_spark_processes

        if self.args.trace:
            self.peak = host.PeakRss()
        t0 = time.perf_counter()
        self.spark = host.start_session(
            self.work, bool(self.args.trace), f"local[{host.cores()}]"
        )
        self.session_s = time.perf_counter() - t0

        # setup_s is an untraced metric; a traced run generates once
        reps = 1 if self.args.trace else SETUP_REPS
        gen_s = []
        for rep in range(reps):
            t = time.perf_counter()
            rows = generate(self.args.workload, self.args.seed)
            target = self.work / f"input{rep}"
            in_bytes = gen.write_parquet(rows, target, self.spec["files"], self.spec["turns"])
            gen_s.append(time.perf_counter() - t)
            if rep < reps - 1:
                shutil.rmtree(target)
        self.input_dir = target
        self.rows = rows
        self.turns = len(rows)
        self.profile = gen.input_profile(rows)
        self.profile.update({"files": self.spec["files"], "parquet_bytes": in_bytes})
        if self.args.trace:
            slice_rows = [r for r in rows if conv_index(r) < self.spec["slice_convs"]]
            self.slice_dir = self.work / "slice"
            gen.write_parquet(slice_rows, self.slice_dir, 2, self.spec["turns"])
            self.profile.update({"slice_turns": len(slice_rows), "slice_files": 2})

        # warm-up: one in-memory build of the whole input, so every timed
        # build is warm; its hashes are the reference later builds must
        # equal.  A traced run warms up on the slice instead: that build is
        # the reference the staged and streamed slice builds must equal,
        # and a full-input warm-up would not fit the traced run's time.
        t = time.perf_counter()
        warm, hashes = self.build_once(self.slice_dir if self.args.trace else None)
        self.warmup_s = time.perf_counter() - t
        self.setup_s = self.session_s + statistics.median(gen_s) + self.warmup_s
        self.host = {
            "cores": host.cores(),
            "driver_heap_mb": host.driver_heap_mb(),
            "mem_total_mb": host.mem_total_bytes() // 2**20,
            "foreign_spark_processes": len(foreign_spark_processes()),
        }
        log(f"host {json.dumps(self.host)}")
        log(f"input {json.dumps(self.profile)}")
        log(f"setup session={self.session_s:.2f}s gen_median={statistics.median(gen_s):.2f}s "
            f"warmup_build={self.warmup_s:.2f}s")
        if self.args.trace:
            # the traced run's builds are checked against each other and
            # the in-memory slice; triple P/R is checked by untraced runs
            self.slice_ref = (warm, hashes)
        else:
            self.ref_hashes = hashes
            t = time.perf_counter()
            self.check_triples(warm)
            self.check_linking(warm.resolution)
            warm.unpersist()
            log(f"checks {time.perf_counter() - t:.2f}s")

    def transcripts(self, path: Path | None = None):
        from islamic_ner_spark.sources.transcripts import read_transcripts

        return read_transcripts(self.spark, str(path or self.input_dir))

    def build_once(self, path: Path | None = None):
        """One in-memory build to complete result: both output tables are
        hashed, which consumes every row.  Returns (result, hashes)."""
        from checks import content_hash
        from islamic_ner_spark.plans.pipeline import build_graph

        result = build_graph(self.spark, self.transcripts(path))
        hashes = (content_hash(result.nodes), content_hash(result.edges))
        self.attempted += 1
        return result, hashes

    # -- untraced: end-to-end metrics ------------------------------------------

    def measure(self) -> dict:
        """Timed warm builds for ``--seconds`` and at least the workload's
        ``builds``; latency and CPU are per build, and the metrics take
        their medians."""
        latencies, cpus = [], []
        tree0, (busy0, steal0) = host.tree_cpu_s(), host.host_cpu_s()
        t_start = time.perf_counter()
        while (len(latencies) < self.spec["builds"]
               or time.perf_counter() - t_start < self.args.seconds):
            t, cpu = time.perf_counter(), host.tree_cpu_s()
            out = self.op("build", self.build_once)
            if out is None:  # counted as failed; a broken build is not retried
                break
            latencies.append(time.perf_counter() - t)
            cpus.append(host.tree_cpu_s() - cpu)
            result, hashes = out
            self.check("build_deterministic", hashes == self.ref_hashes, hashes)
            result.unpersist()
        busy, steal = host.host_cpu_s()
        window = time.perf_counter() - t_start
        log(f"builds n={len(latencies)} latency_s={[round(x, 3) for x in latencies]} "
            f"cpu_s={[round(x, 2) for x in cpus]}")
        # noise diagnostics: cores' worth of CPU other processes on the
        # machine used, and hypervisor steal, while measuring
        log(f"host_load foreign_cores={(busy - busy0 - (host.tree_cpu_s() - tree0)) / window:.2f} "
            f"steal_cores={(steal - steal0) / window:.2f}")
        if not latencies:
            return {}
        return {
            "setup_s": (self.setup_s, "s"),
            "turns_per_s": (self.turns / statistics.median(latencies), "1/s"),
            "cpu_s_per_mturn": (statistics.median(cpus) / (self.turns / 1e6), "s"),
        }

    def check_triples(self, result) -> None:
        """Triple P/R of the slice build on the sample conversations."""
        from checks import triple_pr

        sample = [r for r in self.rows if conv_index(r) < SAMPLE_CONVS]
        pr = triple_pr(
            self.spark, result.triples, sample, seed=self.args.seed,
            turns_per_conv=self.spec["turns"], repeat=not self.spec["names"],
        )
        log(f"check triple_pr {json.dumps(pr)}")
        self.check("triple_pr", pr["ok"], pr)

    def check_linking(self, resolution) -> None:
        """The resolution-ladder mix the workload is built to produce."""
        from pyspark.sql import functions as F

        mix = {
            r["match_type"]: r["n"]
            for r in resolution.groupBy("match_type")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }
        mix = {k: mix.get(k, 0) for k in ("exact", "fuzzy", "new")}
        log(f"check linking_mix {json.dumps(mix)} strings={sum(mix.values())}")
        if self.spec["names"]:
            self.check("vocab_mix_nonzero", all(mix.values()), mix)
        else:
            self.check("repeat_strings_lt_100", sum(mix.values()) < 100, mix)

    # -- traced: per-layer metrics ------------------------------------------------

    def traced(self) -> dict:
        import replay
        from spans import Tracer, event_log_file, parse_event_log

        tracer = Tracer(self.spark)
        found = replay.run_all(self, tracer)
        t = time.perf_counter()
        self.spark.stop()  # flushes the event log
        stop_s = time.perf_counter() - t
        rows = parse_event_log(event_log_file(self.work / "events"))
        log(f"trace session_stop={stop_s:.2f}s event_log_parse={time.perf_counter() - t - stop_s:.2f}s")
        self.peak.stop()
        return replay.layer_metrics(self, tracer, rows, found)

    # -- driver -----------------------------------------------------------------

    def execute(self) -> dict:
        self.work.mkdir(parents=True, exist_ok=True)
        try:
            self.setup()
            metrics = self.traced() if self.args.trace else self.measure()
        finally:
            if self.spark is not None:
                host.stop_session(self.spark)
            if self.peak is not None:
                self.peak.stop()
            shutil.rmtree(self.work, ignore_errors=True)
            try:
                (ROOT / ".kgbench_work").rmdir()
            except OSError:
                pass
        return metrics


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not (ROOT / "islamic_ner_spark" / "plans" / "pipeline.py").is_file():
        print(f"kgbench: no engine sources next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    sys.path.insert(0, str(ROOT))
    os.environ.setdefault("PYARROW_IGNORE_TIMEZONE", "1")

    run = Run(args)
    metrics = run.execute()
    result = {
        "correct": run.failed == 0 and bool(metrics),
        "attempted": max(1, run.attempted),
        "failed": run.failed if metrics else max(1, run.failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    log(f"failed_frac {result['failed'] / result['attempted']:.4f} "
        f"({result['failed']} of {result['attempted']} operations and checks)")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
