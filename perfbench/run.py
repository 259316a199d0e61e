#!/usr/bin/env python3
"""The repository benchmark: one closed-loop workload run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. It builds the engine and the harness
(`perfbench/build.py`, cached), generates the workload's tables from the
seed (`perfbench/gen.py`), runs the harness JVM (one client, queries one
after another, cycles in a seed-permuted order), checks every query's
result against its DuckDB oracle, and prints as its last stdout line
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
Everything it writes stays under `.bench_build/`; the full record of
the run (raw timings, per-cycle host noise, spans, leaks) is kept as
`.bench_build/artifacts/<workload>-seed<N>-trace<T>.json`.
"""
import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

DEADLINE_S = 170.0


def load_json(path):
    with open(path) as f:
        return json.load(f)


def cycles(wl, spec, seconds):
    """Timed cycles in a run: as many as fit in `seconds` at the
    workload's nominal cycle time. The count depends on the arguments
    only, so every run of a workload, on either side of a comparison,
    times the same cycles of the same warm-up curve; stopping on the
    clock instead gave slow runs fewer cycles, whose median then sat
    earlier on the curve and widened the spread between runs."""
    return max(spec["min_cycles"], int(seconds / wl["nominal_cycle_s"]))


def cycle_noise(c, hz):
    s, e = c["start"], c["end"]
    return {
        "cycle": c["cycle"], "traced": c["traced"], "wall_ms": c["wall_ms"],
        "host.steal_ms": stats.steal_ms(s["stat"], e["stat"], hz),
        "host.cpu_pressure_ms": stats.pressure_ms(s["psi"], e["psi"]),
        "jvm.gc_ms": e["gc_ms"] - s["gc_ms"], "jvm.jit_ms": e["jit_ms"] - s["jit_ms"],
        "jvm.cpu_ms": e["cpu_ms"] - s["cpu_ms"],
        "written_mb": (e["fs_bytes"] - s["fs_bytes"]) / 1e6,
    }


def query_span_ms(x):
    return x["build_ms"] + x["mat_ms"] + x["release_ms"] + x["clear_ms"]


def cycle_layers(cycle_span, execs, spans, noise):
    """Per-layer sums of one traced cycle."""
    out = {k: noise[k] for k in ("host.steal_ms", "host.cpu_pressure_ms", "jvm.gc_ms", "jvm.jit_ms", "jvm.cpu_ms")}
    out["sources.written_mb"] = noise["written_mb"]
    for x in execs:
        for k, v in x.get("layers", {}).items():
            out[k] = out.get(k, 0.0) + v
    rows = sum(max(0, x["rows"]) for x in execs)
    out["queries.build_ms"] = sum(x["build_ms"] for x in execs)
    out["exec.materialize_ms"] = sum(x["mat_ms"] for x in execs)
    out["cachescope.release_ms"] = sum(x["release_ms"] for x in execs)
    job_ms = sum(stats.union_ms(x["jobs"], x["start"], x["start"] + query_span_ms(x)) for x in execs)
    out["spark.job_ms"] = job_ms
    out["spark.gap_ms"] = sum(query_span_ms(x) for x in execs) - job_ms
    out["spark.task_ms_p50"] = stats.median([d for x in execs for d in x["task_durations"]])
    out["scan.rows_per_result"] = out.get("scan.input_rows", 0.0) / rows if rows else 0.0
    cand = out.get("operators.cand_pairs", 0.0)
    cand_rows = sum(max(0, x["rows"]) for x in execs if x["layers"]["operators.cand_pairs"] > 0)
    out["operators.result_per_cand"] = cand_rows / cand if cand else 0.0
    # self time per layer: jobs hang under the build/materialize/release
    # span their start falls in
    own = [s for s in spans if s[0] == cycle_span or s[1] == cycle_span]
    query_ids = {s[0] for s in own if s[1] == cycle_span}
    phases = [s for s in spans if s[1] in query_ids]
    own += phases
    next_id = max(s[0] for s in spans) + 1
    for x in execs:
        for js, je in x["jobs"]:
            parent = next((p for p in phases if p[3] <= js <= p[4]), None)
            if parent is not None:
                own.append((next_id, parent[0], "job", js, je))
                next_id += 1
    for layer, ms in stats.self_times(own).items():
        out[f"self.{layer}_ms"] = ms
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench = load_json("BENCHMARK.json")
    spec = load_json(os.path.join(HERE, "spec.json"))
    if args.workload not in spec["workloads"]:
        raise SystemExit(f"unknown workload {args.workload}")
    wl = spec["workloads"][args.workload]
    out = build.build()
    started = time.time()

    run_dir = os.path.abspath(os.path.join(
        build.BUILD_DIR, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        gen.generate(os.path.join(run_dir, "data"), wl["sf"], args.seed)
        rec = build.run_harness(out, run_dir, {
            "queries": ",".join(wl["queries"]), "seed": args.seed, "cycles": cycles(wl, spec, args.seconds),
            "warmCycles": spec["warm_cycles"],
            "trace": args.trace, "data": f"{run_dir}/data"},
            timeout=max(10.0, DEADLINE_S - (time.time() - started)))
        checked = oracle.check(os.path.join(run_dir, "data"), os.path.join(run_dir, "check"),
                               rec["oracles"], wl["queries"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    hz = os.sysconf("SC_CLK_TCK")
    noise = [cycle_noise(c, hz) for c in rec["cycles"]]
    plain = [n for n in noise if not n["traced"]]
    plain_ids = {n["cycle"] for n in plain}
    execs = rec["executions"]
    timed = [x for x in execs if x["cycle"] in plain_ids]

    # correctness: every oracle check, and every timed execution's row
    # count against the checked result's
    bad_rows = [x for x in execs if x["error"] is None and x["rows"] != checked[x["query"]][1]]
    failed = (sum(1 for x in execs if x["error"] is not None) + len(bad_rows)
              + sum(1 for ok, _, _ in checked.values() if not ok))
    attempted = len(execs) + len(checked)
    latencies = [x["build_ms"] + x["mat_ms"] for x in timed if x["error"] is None]
    e2e = {
        "setup_s": (rec["first_query_ms"] - rec["jvm_start_ms"]) / 1000.0,
        "cycle_s": stats.median([n["wall_ms"] for n in plain]) / 1000.0,
        "query_ms_p50": stats.query_p50(timed),
        "heap_live_mb": rec["heap_live_mb"],
    }
    t = stats.tail(latencies)
    info = {
        "error_rate": failed / attempted,
        "written_mb": stats.median([n["written_mb"] for n in plain]),
        "query_ms_tail": None if t is None else {"percentile": t[0], "value": t[1],
                                                 "samples": t[2], "beyond": t[3]},
        "cycles": len(plain), "executions": len(timed),
    }

    layers, leaks, overhead = {}, [], None
    if args.trace:
        spans = [tuple(s) for s in rec["spans"]]
        per_cycle = []
        for c in rec["cycles"]:
            if not c["traced"]:
                continue
            cs = next(s for s in spans if s[2] == f"cycle:{c['cycle']}")
            cx = [x for x in execs if x["cycle"] == c["cycle"]]
            nz = next(n for n in noise if n["cycle"] == c["cycle"])
            per_cycle.append(cycle_layers(cs[0], cx, spans, nz))
            leaks += [{"query": x["query"], "cycle": c["cycle"],
                       "rdds": x["layers"]["cachescope.resident_rdds"],
                       "mb": x["layers"]["cachescope.resident_mb"]}
                      for x in cx if x["layers"]["cachescope.resident_rdds"] > 0]
        traced_wall = stats.median([n["wall_ms"] for n in noise if n["traced"]])
        overhead = traced_wall / stats.median([n["wall_ms"] for n in plain])
        for m in bench["per_layer"]:
            name = m["name"]
            if name == "trace.overhead":
                layers[name] = overhead
            else:
                layers[name] = stats.median([c.get(name, 0.0) for c in per_cycle])

    metrics = layers if args.trace else e2e
    unit = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    result = {
        "correct": failed == 0 and not rec["errors"],
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit[k]} for k, v in metrics.items()},
    }

    os.makedirs(os.path.join(build.BUILD_DIR, "artifacts"), exist_ok=True)
    artifact = os.path.join(build.BUILD_DIR, "artifacts",
                            f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(artifact, "w") as f:
        json.dump({"workload": args.workload, "sf": wl["sf"], "result": result, "end_to_end": e2e,
                   "info": info, "noise_per_cycle": noise, "leaks": leaks,
                   "oracle": {q: list(v) for q, v in checked.items()},
                   "bad_row_counts": [(x["query"], x["cycle"], x["rows"]) for x in bad_rows],
                   "harness": rec}, f)

    for q, (ok, n, msg) in sorted(checked.items()):
        if not ok:
            print(f"FAIL {q}: {msg}")
    for e in rec["errors"]:
        print(f"ERROR {e['phase']} {e['query']}: {e['error']}")
    tail_txt = (f"n/a ({len(latencies)} samples, 20 needed)" if t is None else
                f"p{t[0]:g}={t[1]:.1f} ms over {t[2]} samples ({t[3]} beyond)")
    print(f"{args.workload} seed={args.seed} cycles={info['cycles']} executions={info['executions']}: "
          f"setup_s={e2e['setup_s']:.3f} s, cycle_s={e2e['cycle_s']:.3f} s, "
          f"query_ms_p50={e2e['query_ms_p50']:.1f} ms, query_ms_tail={tail_txt}, "
          f"error_rate={info['error_rate']:.4f} ({failed}/{attempted}), "
          f"heap_live_mb={e2e['heap_live_mb']:.1f} MB, written_mb={info['written_mb']:.3f} MB/cycle")
    print("per-cycle host noise: " + "; ".join(
        f"c{n['cycle']}{'t' if n['traced'] else ''} wall={n['wall_ms']:.0f}ms "
        f"steal={n['host.steal_ms']}ms psi={n['host.cpu_pressure_ms']}ms gc={n['jvm.gc_ms']:.0f}ms "
        f"jit={n['jvm.jit_ms']:.0f}ms"
        for n in noise))
    if args.trace:
        print(f"tracing overhead: traced/untraced cycle_s = {overhead:.3f}; "
              f"spark.gap_ms is {layers['spark.gap_ms'] / traced_wall:.1%} of a traced cycle")
        print("resident after release: " + (", ".join(
            f"{l['query']} (cycle {l['cycle']}): {l['rdds']:.0f} RDDs {l['mb']:.1f} MB"
            for l in leaks) or "none"))
    print(f"artifact: {artifact}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
