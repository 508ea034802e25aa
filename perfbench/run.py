"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The program and the harness are built
from source into ``.bench_build/`` (``build.py``), the seeded inputs are
written there (``gen.py``), and the workload runs in a fresh JVM with a
fixed heap. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics of a run
that attributes every Spark job to the op that ran it. Lines before it
name every end-to-end metric of the workload with its unit. The exit code
is non-zero when any output check failed.

Maintenance: ``--record`` re-records the workload's reference
(``catalog_reference.tsv``: the catalog's result fingerprints;
``store_reference.tsv``: every pooled lookup's result after every tick,
each cross-checked against a one-shot rebuild of the same corpus).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["catalog_sweep", "store_ingest_serve"]
TIMEOUT_S = 170
REFERENCE = {"catalog_sweep": os.path.join(HERE, "catalog_reference.tsv"),
             "store_ingest_serve": os.path.join(HERE, "store_reference.tsv")}
# input sizes, per workload
CATALOG = dict(lineitem=60000, docs=1000, embeddings=1000)
STORE = dict(base_docs=1000, ticks=4, batch_docs=600, pool_size=12)
LOOKUPS_PER_TICK = 12
GEN_VERSION = "1"


def _fresh(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def prepare_inputs(workload, base):
    """Writes the workload's inputs; returns (input dir, input bytes).
    The data is fixed, so the recorded references hold for it, and written
    once per checkout; the seed draws the run's order or lookups."""
    out = os.path.join(base, f"{workload}-v{GEN_VERSION}")
    if not os.path.exists(os.path.join(out, ".done")):
        if workload == "catalog_sweep":
            gen.catalog_tables(_fresh(out), **CATALOG)
        else:
            gen.store_corpus(_fresh(out), **STORE)
        open(os.path.join(out, ".done"), "w").close()
    return out, _dir_bytes(out)


class RssWatch(threading.Thread):
    """Polls the peak resident set size (VmHWM) of one process."""

    def __init__(self, pid):
        super().__init__(daemon=True)
        self.pid, self.peak_kb, self.done = pid, 0, threading.Event()

    def run(self):
        while not self.done.is_set():
            try:
                with open(f"/proc/{self.pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            self.peak_kb = max(self.peak_kb, int(line.split()[1]))
            except OSError:
                pass
            self.done.wait(0.1)


def run_jvm(app, workload, inputs, work, seed, seconds, trace, record=False):
    """One harness JVM; returns (records, popen epoch ms, peak RSS kB)."""
    tmp = _fresh(os.path.join(work, "tmp"))
    cmd = (build.java(app) + [f"-Djava.io.tmpdir={tmp}", "graft.perfbench.Harness", workload,
                              inputs, work, str(seed), str(seconds), str(trace)])
    cmd += [REFERENCE[workload]] + (["record"] if record else [])
    log = open(os.path.join(work, "jvm.log"), "w")
    popen_ms = time.time() * 1000.0
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
    watch = RssWatch(p.pid)
    watch.start()
    try:
        rc = p.wait(timeout=1800 if record else TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        rc = "timeout"
    finally:
        watch.done.set()
        watch.join()
        log.close()
    recs_path = os.path.join(work, "records.jsonl")
    if rc != 0 or not os.path.exists(recs_path):
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness JVM failed ({rc})")
    return metrics.load(recs_path), popen_ms, watch.peak_kb


def history_path(base, workload):
    return os.path.join(base, f"untraced-{workload}.jsonl")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    app = build.build()
    base = build.build_dir()
    inputs_base = os.path.join(base, "inputs")
    os.makedirs(inputs_base, exist_ok=True)
    inputs, input_bytes = prepare_inputs(a.workload, inputs_base)
    work = _fresh(os.path.join(base, "work", f"{a.workload}-{os.getpid()}"))
    if a.workload == "store_ingest_serve":
        gen.store_schedule(os.path.join(work, "schedule.json"), a.seed, STORE["ticks"],
                           LOOKUPS_PER_TICK, STORE["pool_size"])
    try:
        def one(trace):
            recs, popen_ms, rss = run_jvm(app, a.workload, inputs, work, a.seed,
                                          a.seconds, trace, a.record)
            return metrics.reduce(a.workload, recs, popen_ms, rss, input_bytes)

        if a.record:
            summary = one(0)[0]
            for err in summary["errors"]:
                print(f"FAILED {err}")
            print(f"recorded {REFERENCE[a.workload]}")
            return 0 if summary["failed"] == 0 else 1
        summary, e2e, named, per_layer = one(a.trace)
        hist = history_path(base, a.workload)
        if e2e is not None and a.trace == 0:
            with open(hist, "a") as f:
                f.write(json.dumps(e2e) + "\n")
        if e2e is not None and a.trace == 1:
            # tracing overhead: traced minus the median untraced value; the
            # first traced run in a checkout measures its own untraced twin
            if not os.path.exists(hist):
                _, twin, _, _ = one(0)
                if twin is not None:
                    with open(hist, "a") as f:
                        f.write(json.dumps(twin) + "\n")
            past = [json.loads(l) for l in open(hist)] if os.path.exists(hist) else []
            for k in metrics.END_TO_END:
                vals = [p[k] for p in past if k in p]
                per_layer[f"overhead.{k}"] = e2e[k] - statistics.median(vals) if vals else 0.0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for err in summary["errors"]:
        print(f"FAILED {err}")
    ok = summary["failed"] == 0 and e2e is not None
    if named:
        units = {"setup_s": "s", "peak_rss_mb": "MB", "error_rate": "ratio", "space_amp": "ratio",
                 "etl_rows_per_s": "1/s", "ingest_docs_per_s": "1/s"}
        for k, v in named.items():
            print(f"{k} {v:.6g} {units.get(k, 's')}")
        if "tail" in summary:
            print(f"tail = p{summary['tail']['percentile']} of {summary['tail']['samples']} samples")
    if a.trace == 1 and per_layer is not None:
        out = {k: {"value": v, "unit": _layer_unit(k)} for k, v in per_layer.items()}
    elif e2e is not None:
        out = {k: {"value": e2e[k], "unit": metrics.UNITS[k]} for k in metrics.END_TO_END}
    else:
        out = {}
    print(json.dumps({"correct": ok, "attempted": max(1, summary["attempted"]),
                      "failed": summary["failed"], "metrics": out}))
    return 0 if ok else 1


def _layer_unit(name):
    if name.startswith("overhead."):
        return metrics.UNITS[name.split(".", 1)[1]]
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
