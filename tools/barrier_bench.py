#!/usr/bin/env python3
"""A/B SparkEntry queries of two builds (by default the barrier queries):
alternate spark-shell JVMs running tools/barrier_bench.scala (A, B, A,
B, ...), then aggregate the per-JVM lines into one JSON object.

    python3 tools/barrier_bench.py --jar-a parent.jar --jar-b head.jar \
        --sf /path/to/sf0.1 --jvms 3 --runs /tmp/runs.jsonl \
        --explains-a parent/EXPLAINS.md --explains-b EXPLAINS.md \
        --out PERF_barrier.json

`--queries q20_quality_score,q65_bpe_tokens` times those queries
instead of the barrier set.

Per query and side: the median and range of every timed trial of every
JVM, the Spark jobs and Janino compiles of every timed trial, the join
operators of one JVM's untimed pass, and, from the two
EXPLAINS.md files (fixtures/gen_explains.scala, sf0.01), the executed
stages and shuffle-write MB of each audit.
"""
import argparse, json, os, re, statistics, subprocess, sys

SCRIPT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "barrier_bench.scala")


def run_jvm(jar, label, args):
    env = dict(os.environ, BARRIER_SF=args.sf, BARRIER_OUT=args.runs,
               BARRIER_LABEL=label, BARRIER_TRIALS=str(args.trials))
    if args.queries:
        env["BARRIER_QUERIES"] = args.queries
    cpus = str(os.cpu_count())
    before = n_lines(args.runs)
    subprocess.run([args.spark_shell, "--master", f"local[{cpus}]",
                    "--driver-memory", "4g",
                    "--conf", "spark.ui.enabled=false",
                    "--conf", f"spark.sql.shuffle.partitions={cpus}",
                    "--conf", "spark.sql.session.timeZone=UTC",
                    "--jars", jar, "-I", SCRIPT],
                   env=env, check=True, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL)
    # spark-shell exits 0 when the script fails to compile
    if n_lines(args.runs) != before + 1:
        sys.exit(f"{label} JVM wrote no line to {args.runs}; run "
                 f"tools/barrier_bench.scala alone to see its error")


def n_lines(path):
    if not os.path.exists(path):
        return 0
    with open(path) as f:
        return sum(1 for l in f if l.strip())


def explains(path):
    """audit title -> (executed stages, shuffle write MB)"""
    out, title = {}, None
    for line in open(path, encoding="utf-8"):
        if line.startswith("## "):
            title = line[3:].strip()
        m = re.match(r"- EXECUTED: (\d+) stages, shuffle write ([\d.]+) MB", line)
        if m and title:
            out[title] = (int(m.group(1)), float(m.group(2)))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--jar-a", required=True)
    ap.add_argument("--jar-b", required=True)
    ap.add_argument("--sf", required=True)
    ap.add_argument("--jvms", type=int, default=3)
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--queries", help="comma-separated SparkEntry query names "
                    "(default: the barrier queries)")
    ap.add_argument("--runs", required=True, help="JSON-lines file the JVMs append to")
    ap.add_argument("--explains-a")
    ap.add_argument("--explains-b")
    ap.add_argument("--spark-shell", default="spark-shell")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    a, b = "parent", "head"
    for _ in range(args.jvms):
        run_jvm(args.jar_a, a, args)
        run_jvm(args.jar_b, b, args)
    lines = [json.loads(l) for l in open(args.runs) if l.strip()]
    sides = {s: [l for l in lines if l["label"] == s] for s in (a, b)}
    queries = list(lines[0]["queries"])
    per_query, sums = {}, {}
    for s, ls in sides.items():
        sums[s] = 0.0
        for q in queries:
            walls = [w for l in ls for w in l["queries"][q]["walls_s"]]
            med = statistics.median(walls)
            sums[s] += med
            per_query.setdefault(q, {})[s] = {
                "median_s": round(med, 3), "min_s": min(walls), "max_s": max(walls),
                "n": len(walls),
                "jobs": [j for l in ls for j in l["queries"][q].get("jobs", [])],
                "compiles": [c for l in ls for c in l["queries"][q].get("compiles", [])],
                "build_joins": ls[0]["queries"][q]["build_joins"],
                "final_joins": ls[0]["queries"][q]["final_joins"],
                "build_actions": ls[0]["queries"][q]["build_actions"]}
    for q, r in per_query.items():
        r["b_median_within_a_range"] = r[b]["median_s"] <= r[a]["max_s"]
    result = {
        "what": ("queries " + args.queries if args.queries else "barrier queries") +
                " at " + os.path.basename(args.sf.rstrip("/")) +
                " into the noop sink; per JVM one warm-up then timed trials, "
                "JVMs alternating between the two builds",
        "host_cpus": os.cpu_count(), "master": lines[0]["master"],
        "jvms_per_side": {s: len(ls) for s, ls in sides.items()},
        "trials_per_jvm": args.trials,
        "steal_frac": {s: [l["steal_frac"] for l in ls] for s, ls in sides.items()},
        "sum_of_medians_s": {s: round(v, 3) for s, v in sums.items()},
        "queries": per_query,
    }
    if args.explains_a and args.explains_b:
        ea, eb = explains(args.explains_a), explains(args.explains_b)
        result["explains_sf0.01"] = {
            t: {a: {"stages": ea[t][0], "shuffle_mb": ea[t][1]},
                b: {"stages": eb[t][0], "shuffle_mb": eb[t][1]}}
            for t in ea if t in eb}
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
        f.write("\n")
    print(json.dumps(result["sum_of_medians_s"]))


if __name__ == "__main__":
    main()
