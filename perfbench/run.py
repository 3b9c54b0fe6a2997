"""Literature-pipeline benchmark.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload release|curation --seed N \
        --seconds S --trace 0|1

One run: generate the workload's inputs from the seed, start the
program in a fresh worker process (imports + ``build_session`` timed as
set-up; Spark runs ``local[<cpus>]``), drive one pass of the workload
through the program's public entry points, sample the process tree's
resident memory from outside, check every output against the
generator's ground truth, and print one JSON line with the end-to-end
metrics (``--trace 0``) or the per-layer metrics of a traced run
(``--trace 1``).  Human-readable detail goes to the lines before it,
including the peak RSS: it is bimodal from run to run (about 2.1 GB,
or about 4 GB in one run in five, on identical-size input), so it is
reported but not gated, and is a per-layer metric of the traced run.

A pass is fixed work (one release, one curation batch), not a
time-boxed loop: the program's first pass in a fresh JVM is what a user
waits for, and on a 4-core box it takes about ``--seconds``.  Set-up is
sampled once per run: a second sample costs another JVM start, which
the run's time budget does not hold.  The traced run reports the
tracing overhead against the median untraced ``pipeline_s`` of earlier
runs of the same code that passed the check in the same checkout (kept
in ``.perfbench_history.json``, keyed by a hash of the program and
benchmark sources); with no such run it says the overhead is not
measured.
Everything else the run reads or writes lives under ``.perfbench_work/``
in the checkout, which is cleared first.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

DRIVER_MEM = "2g"  # build_session defaults to 48g; 1g slows the release by GC
RUN_TIMEOUT_S = 170
HISTORY = ".perfbench_history.json"  # untraced pipeline_s per code hash and workload
HISTORY_KEEP = 25
STEPS = {
    "release": ["processing", "embedding", "vectors", "evidence"],
    "curation": ["scrub", "curate", "cluster", "search"],
}
WORKLOADS = tuple(STEPS)
ENGINE_COUNTERS = [
    "jobs", "tasks", "task_s", "gc_s", "shuffle_write_mb", "spill_mb", "driver_s", "task_skew",
]
# spans whose self time is reported as per-layer metric "<span>_s"
LAYER_SPANS = [
    "sources.read_inputs", "sources.write", "grounding.entity_lut",
    "grounding.load_entities", "grounding.map_entities", "grounding.resolve",
    "processing.literature_index", "embedding.regroup", "embedding.w2v_fit",
    "vectors.compute", "evidence.from_matches", "evidence.from_coocs", "evidence.join",
]
LAYER_COUNTS = [
    "sources.output_files", "grounding.entity_lut_rows", "grounding.distinct_labels",
    "processing.index_rows", "embedding.training_rows", "embedding.vocab_size",
    "evidence.pairs_considered", "evidence.pairs_kept", "evidence.rows",
    "operators.cluster.candidate_pairs",
]


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def processes() -> list[tuple[int, str, int, int, int]]:
    """(pid, state, ppid, pgid, rss kB) of every process, from /proc."""
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{name}/statm") as fh:
                pages = int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
        out.append((int(name), fields[0], int(fields[1]), int(fields[2]), pages * page_kb))
    return out


def tree_rss_kb(root_pid: int) -> int:
    """Resident memory of a process and all its descendants."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for pid, _, ppid, _, kb in processes():
        children.setdefault(ppid, []).append(pid)
        rss[pid] = kb
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


def run_worker(spec: dict, work: str, tag: str, deadline: float) -> tuple[dict, int]:
    """Run worker.py in a fresh process group; returns (result, peak RSS kB)."""
    spec_path = os.path.join(work, f"{tag}.spec.json")
    spec["result"] = os.path.join(work, f"{tag}.result.json")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "local"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    env.pop("SPARK_MASTER", None)
    with open(os.path.join(work, f"{tag}.log"), "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        peak = 0
        try:
            while proc.poll() is None:
                peak = max(peak, tree_rss_kb(proc.pid))
                if time.monotonic() > deadline:
                    raise TimeoutError(f"{tag} worker exceeded the run deadline")
                time.sleep(0.25)
        finally:
            _stop_group(proc)
    if proc.returncode != 0 or not os.path.exists(spec["result"]):
        with open(os.path.join(work, f"{tag}.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"{tag} worker exited with {proc.returncode}")
    with open(spec["result"]) as fh:
        return json.load(fh), peak


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill the worker's process group (JVM, Python workers) and wait
    until no member runs any more.  Nothing of theirs is needed once the
    result file is written; leftovers sit in the work dir.  Zombies
    count as ended: an orphan is reaped by init, not by us."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    give_up = time.monotonic() + 30
    while any(pg == proc.pid and st not in "ZX" for _, st, _, pg, _ in processes()):
        if time.monotonic() > give_up:
            raise RuntimeError(f"process group {proc.pid} survived SIGKILL")
        time.sleep(0.05)


def program_config(workload: str, inputs: str, out: str) -> dict:
    from gen import SCRUB_WINDOW, SEARCH_K, SEARCH_TERMS

    if workload == "release":
        return {
            "inputs": {
                "epmc": {"format": "json", "path": f"{inputs}/epmc"},
                "epmcids": {
                    "format": "csv", "path": f"{inputs}/epmcids",
                    "options": {"header": "true", "inferSchema": "true"},
                },
                "targets": {"format": "parquet", "path": f"{inputs}/targets.parquet"},
                "diseases": {"format": "parquet", "path": f"{inputs}/diseases.parquet"},
                "drugs": {"format": "parquet", "path": f"{inputs}/drugs.parquet"},
            },
            "output": {"dir": out, "format": "parquet"},
        }
    return {
        "inputs": {"documents": {"format": "parquet", "path": f"{inputs}/documents"}},
        "output": {"dir": out, "format": "parquet"},
        "scrub": {"window": SCRUB_WINDOW},
        "search": {"terms": SEARCH_TERMS, "k": SEARCH_K},
    }


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span name -> summed self time (duration minus direct children)."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
    for name, c in child.items():
        out[name] = out.get(name, 0.0) - c
    return out


def layer_metrics(workload: str, result: dict, info: dict, engine: dict) -> dict:
    """Every per-layer metric; 0 where the workload's path skips the layer."""
    selfs = self_times(result["spans"])
    counts = result["counts"]
    m = {"session.build_s": result["session.build_s"]}
    for span in LAYER_SPANS:
        m[f"{span}_s"] = selfs.get(span, 0.0)
    for name in LAYER_COUNTS:
        m[name] = counts.get(name, 0)
    mentions = counts.get("grounding.mentions", 0)
    distinct = counts.get("grounding.distinct_labels", 0)
    m["grounding.label_reuse_ratio"] = mentions / distinct if distinct else 0.0
    mapped, unmapped = counts.get("grounding.mapped", 0), counts.get("grounding.unmapped", 0)
    m["grounding.mapped_share"] = mapped / (mapped + unmapped) if mapped + unmapped else 0.0
    for key in ("stem_udf_rows", "stem_udf_s", "py_worker_start_s", "py_worker_init_s"):
        m[f"functions.{key}"] = engine["python"].get(key, 0)
    curation = workload == "curation"
    for name, key in (
        ("operators.scrub.passages_dropped", "passages_dropped"),
        ("operators.curate.kept_share", "kept_share"),
        ("operators.cluster.clusters", "clusters"),
        ("operators.search.hits", "search_hits"),
    ):
        m[name] = info.get(key, 0) if curation else 0
    for step in STEPS["release"] + STEPS["curation"]:
        for c in ENGINE_COUNTERS:
            m[f"engine.{step}.{c}"] = engine["steps"].get(step, {}).get(c, 0)
    return m


def code_hash() -> str:
    """Hash of the program's and the benchmark's sources."""
    h = hashlib.sha1()
    for top in ("platform_etl_literature_spark", "perfbench"):
        for d, dirs, fs in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x not in ("__pycache__", "tests"))
            for f in sorted(fs):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def untraced_history(workload: str, add: float | None) -> list[float]:
    """Untraced pipeline_s values of earlier checked runs of this code in
    this checkout (the base of the tracing overhead); appends ``add``
    when given."""
    path = os.path.join(ROOT, HISTORY)
    key = code_hash()
    try:
        with open(path) as fh:
            stored = json.load(fh)
    except (OSError, ValueError):
        stored = {}
    mine = stored.get(key, {})  # other code's runs are dropped on the next write
    runs = mine.setdefault(workload, [])
    if add is not None:
        runs.append(add)
        del runs[:-HISTORY_KEEP]
        with open(path, "w") as fh:
            json.dump({key: mine}, fh)
    return runs


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "platform_etl_literature_spark", "main.py")):
        print(f"no program to benchmark under {ROOT}", file=sys.stderr)
        return 2
    import check
    import eventlog
    import gen

    deadline = time.monotonic() + RUN_TIMEOUT_S
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    inputs, out = os.path.join(work, "inputs"), os.path.join(work, "out")
    evdir = os.path.join(work, "eventlog")
    for d in (work, os.path.join(work, "local"), evdir):
        os.makedirs(d)

    truth = gen.generate(args.workload, inputs, args.seed)
    spec = {
        "workload": args.workload,
        "trace": args.trace,
        "config": program_config(args.workload, inputs, out),
        "eventlog_dir": evdir,
    }
    result, peak_kb = run_worker(spec, work, "run", deadline)

    steps = STEPS[args.workload]
    attempted = len(steps)
    if result["error"]:
        problems = {s: [result["error"]] for s in steps}
        info = {}
    else:
        problems, info = check.check(args.workload, truth, out)
    failed = sum(1 for s in steps if problems.get(s))

    print(f"workload={args.workload} seed={args.seed} trace={args.trace} cpus={cpus()}")
    print("inputs: " + json.dumps(truth.sizes, sort_keys=True))
    print("steps_s: " + json.dumps({s: round(v["s"], 3) for s, v in result["steps"].items()}))
    print("outputs: " + json.dumps(info, sort_keys=True))
    print(f"peak_rss_mb: {peak_kb / 1024:.1f}")
    for step in steps:
        for msg in problems.get(step, []):
            print(f"CHECK FAILED {step}: {msg}")

    pipeline_s = result.get("pipeline_s") or sum(v["s"] for v in result["steps"].values())
    history = untraced_history(
        args.workload, None if args.trace or failed else pipeline_s
    )
    if args.trace:
        engine = eventlog.summarise(evdir, result["steps"])
        metrics = layer_metrics(args.workload, result, info, engine)
        metrics["trace.pipeline_s"] = pipeline_s
        metrics["host.peak_rss_mb"] = peak_kb / 1024
        if history:
            untraced = statistics.median(history)
            print(
                f"trace_overhead_s: {pipeline_s - untraced:.3f} (traced {pipeline_s:.3f} s minus "
                f"the median {untraced:.3f} s of {len(history)} untraced runs of this code)"
            )
        else:
            print("trace_overhead_s: not measured (no untraced run of this code passed the check here)")
    else:
        metrics = {
            "pipeline_s": pipeline_s,
            "setup_s": result["setup_s"],
            "output_mb": gen.dir_bytes(out) / 2**20 if os.path.isdir(out) else 0.0,
            "ok_share": (attempted - failed) / attempted,
        }
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_share", "_ratio", "task_skew")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
