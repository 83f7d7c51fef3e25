"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``). The lines
before it are the human-readable report; the full report is also
written to ``perfbench/_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import shutil
import signal
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def end_to_end(bench, res: dict) -> dict[str, float]:
    """The gated metrics (BENCHMARK.json ``end_to_end``) and the other
    user-visible numbers, which are reported with their sample counts."""
    s = bench.samples
    return {
        "setup_s": res["setup_s"],
        "round_s": statistics.median(bench.round_walls),
        "query_p50_ms": statistics.median(s["query"]) * 1e3,
        "rag_p50_ms": statistics.median(s["rag"]) * 1e3,
        "peak_rss_mb": bench.peak_rss_mb,
    }


def report_lines(workload: str, stamp: dict, e2e: dict, report: dict, bench) -> list[str]:
    from perfbench import stats

    lines = [f"host {' '.join(f'{k}={v}' for k, v in stamp.items())}",
             f"workload {workload}: {len(bench.round_walls)} rounds measured"
             + (f" traced, {len(bench.untraced_round_walls)} untraced" if bench.trace else ""),
             "setup " + ", ".join(f"{k} {v:.2f} s" for k, v in bench.setup_phases.items())]
    for kind, values in sorted(bench.samples.items()):
        sm = stats.summarize([v * 1e3 for v in values])
        tail = f", p{sm['tail_p']:g} {sm['tail']:.1f} ms" if "tail" in sm else ""
        lines.append(f"op {kind}: n={sm['n']}, p50 {sm['p50']:.1f} ms{tail}")
    counts = {"setup_s": 1, "round_s": len(bench.round_walls),
              "query_p50_ms": len(bench.samples["query"]),
              "rag_p50_ms": len(bench.samples["rag"]), "peak_rss_mb": 1}
    for name, value in e2e.items():
        lines.append(f"metric {name} = {value:.6g} (n={counts[name]})")
    q = stats.summarize(bench.samples["query"])
    if "tail" in q:
        lines.append(f"metric query_p{q['tail_p']:g}_ms = {q['tail'] * 1e3:.6g} ms (n={q['n']})")
    for name, m in report.items():
        lines.append(f"metric {name} = {m['value']:.6g} {m['unit']} (n={m['n']})")
    rate = bench.failed / bench.attempted if bench.attempted else 0.0
    lines.append(f"metric error_rate = {rate:.6g} ({bench.failed} failed / "
                 f"{bench.attempted} attempted)")
    for f in bench.failures:
        lines.append(f"FAILED op={f['op']} request={f['request']}: {f['reason']}")
    lines += [f"note {n}" for n in bench.notes]
    return lines


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "vectra_py_spark" / "__init__.py").is_file():
        print(f"perfbench: no vectra_py_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import host, ingest, serve
    from perfbench.harness import Bench

    # a terminated run still stops Spark and its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    stamp = host.stamp(ROOT, args.seed)
    try:
        res = {"serve": serve, "ingest": ingest}[args.workload].run(bench)
        bench.sample_rss()
        bench.stop()
        e2e = end_to_end(bench, res)
        full = {"host": stamp, "end_to_end": e2e, "report": res["report"],
                "setup_phases": bench.setup_phases, "round_s": bench.round_walls,
                "samples_ms": {k: [v * 1e3 for v in vs] for k, vs in bench.samples.items()},
                "failures": bench.failures, "notes": bench.notes}
        if args.trace:
            layers, by_op = bench.layer_report()
            layers["session.start_s"] = res["session_start_s"]
            full.update(per_layer=layers, ops=by_op,
                        untraced_round_s=statistics.median(bench.untraced_round_walls))
    finally:
        bench.stop()
        shutil.rmtree(bench.work, ignore_errors=True)

    for line in report_lines(args.workload, stamp, e2e, res["report"], bench):
        print(line)
    if args.trace:
        for name, value in sorted(full["per_layer"].items()):
            print(f"layer {name} = {value:.6g}")
        for kind, row in sorted(full["ops"].items()):
            print(f"spark op.{kind}: " + ", ".join(f"{k}={v:.4g}" for k, v in row.items()))
    bench.out.mkdir(parents=True, exist_ok=True)
    out = bench.out / f"report-{args.workload}-s{args.seed}-t{args.trace}.json"
    out.write_text(json.dumps(full, indent=1, default=str))

    values = full["per_layer"] if args.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec["per_layer" if args.trace else "end_to_end"]}
    print(json.dumps({"correct": bench.failed == 0, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
