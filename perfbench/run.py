"""Per-change benchmark of the migration ETL and the corpus-curation query.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (closed loop, one client: the next execution starts when the
previous one has finished and its output has been checked):

  etl_migration     MigrationPipeline.run with the RunMigration defaults
                    (strict duplicate semantics, single-file output).
  etl_delta_sparse  the distributed fast path (no strict semantics,
                    part-file output) over a larger export and a 2% mapping.
  corpus_curation   the registered query q_x103_funnel_host_gate over a
                    seeded, stopword-preserving amplification of a generated
                    corpus, checked against its DuckDB oracle.

The inputs are generated from the seed under perfbench/data. With
--trace 0 the run prints the end-to-end metrics; with --trace 1 it adds the
benchmark's Spark listeners and prints the per-layer metrics. The last line
of standard output is one JSON object: correct, attempted, failed, metrics.
"""

import argparse
import json
import os
import random
import re
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True  # leave nothing behind in the benchmark's sources
import build  # noqa: E402

DATA = os.path.join(BENCH, "data")
CPUS = len(os.sched_getaffinity(0))
HEAP = "3g"

WORKLOADS = {
    "etl_migration": {"kind": "etl", "customers": 25_000, "files": 8, "mapping_pct": 100},
    "etl_delta_sparse": {"kind": "etl", "customers": 100_000, "files": 32, "mapping_pct": 2},
    "corpus_curation": {"kind": "corpus", "base_docs": 1_250, "copies": 4},
}

END_TO_END = [
    ("setup_s", "s"), ("first_run_s", "s"), ("run_s", "s"),
    ("items_per_s", "items/s"), ("heap_retained_mb", "MB"),
]

PER_LAYER = [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"), ("spark.planning_ms", "ms"),
    ("spark.codegen_compiles", "count"), ("spark.first_run_planning_ms", "ms"),
    ("spark.first_run_codegen_compiles", "count"), ("spark.driver_only_ms", "ms"),
    ("spark.executor_run_ms", "ms"), ("spark.executor_cpu_ms", "ms"),
    ("spark.task_wait_ms", "ms"), ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"), ("spark.input_mb", "MB"),
    ("spark.output_mb", "MB"), ("spark.peak_task_mem_mb", "MB"),
    ("spark.resident_rdds_after", "count"), ("spark.resident_mb_after", "MB"),
    ("jvm.gc_ms", "ms"), ("jvm.gc_count", "count"),
    ("etl.csv_prepare_ms", "ms"), ("etl.xml_parse_ms", "ms"), ("etl.core_join_ms", "ms"),
    ("etl.transform_ms", "ms"), ("etl.xml_write_ms", "ms"), ("etl.log_write_ms", "ms"),
    ("etl.export_read_ratio", "ratio"), ("etl.output_bytes_per_customer", "B"),
    ("dedup.exact_ms", "ms"), ("dedup.minhash_candidates_ms", "ms"),
    ("dedup.verified_clusters_ms", "ms"), ("dedup.candidate_pairs", "count"),
    ("dedup.verified_pairs", "count"), ("dedup.candidate_precision", "ratio"),
    ("graph.host_rank_ms", "ms"), ("bench.trace_overhead_s", "s"),
]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


class Jvm:
    def __init__(self, cp):
        self.cp = ":".join(cp)
        self.tmp = os.path.join(DATA, "tmp")

    def cmd(self, *args):
        opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *opens,
                 f"-Djava.io.tmpdir={self.tmp}",
                 f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
                 "-Dspark.ui.enabled=false", "-cp", self.cp, "perfbench.Main"]
                + [str(a) for a in args])

    def call(self, *args, log_name):
        path = os.path.join(DATA, log_name)
        with open(path, "w") as out:
            r = subprocess.run(self.cmd(*args), stdout=subprocess.PIPE, stderr=out, text=True)
        if r.returncode != 0:
            with open(path) as f:
                tail = f.read()[-3000:]
            raise RuntimeError(f"{args[0]} exited {r.returncode}:\n{tail}")
        return r.stdout


def fresh_seed_dir(workload, seed):
    """The seed's input directory; inputs of other seeds are removed."""
    wdir = os.path.join(DATA, workload)
    os.makedirs(wdir, exist_ok=True)
    keep = f"seed-{seed}"
    for d in os.listdir(wdir):
        if d != keep:
            shutil.rmtree(os.path.join(wdir, d), ignore_errors=True)
    return os.path.join(wdir, keep)


def ready(d):
    return os.path.exists(os.path.join(d, "READY"))


def mark_ready(d):
    open(os.path.join(d, "READY"), "w").close()


# ---------------------------------------------------------------- ETL inputs

def gen_etl(jvm, spec, d, seed):
    if ready(d):
        return
    shutil.rmtree(d, ignore_errors=True)
    jvm.call("gen-etl", os.path.join(DATA, "etl-base"), d, spec["customers"], spec["files"],
             spec["mapping_pct"], seed, log_name="gen.log")
    mark_ready(d)


# ------------------------------------------------------------- corpus inputs

# The sf0.1 `documents` vocabulary shape: 30 words drawn uniformly, two of
# them ("the", "a") on the quality gate's stopword list.
VOCAB = ["the", "a", "spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "big", "fast", "slow", "row", "agg", "key", "query",
         "scan", "batch", "sort", "join", "hash", "filter", "group", "order", "line",
         "part", "customer"]
# The gate's stopwords (TextAnalysis.langStopwords.head): never remapped.
STOPWORDS = {"the", "a", "of", "and", "is", "to", "in"}
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
BASE_CORPUS_SEED = 42


def base_corpus(rng, n):
    """n documents of 10-100 tokens, shaped like the sf0.1 `documents`
    table: about 5% are a near-duplicate of an earlier document (its text
    plus ' dup'), about 0.2% an exact copy."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[rng.randrange(i)])
        else:
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100))))
    return texts


def passes_quality_gate(text):
    toks = [t for t in text.split() if t]
    n = len(toks)
    if n < 20:
        return False
    avg_len = round(sum(len(t) for t in toks) / n, 4)
    stop = round(sum(t in STOPWORDS for t in toks) / n, 4)
    return 2.0 <= avg_len <= 10.0 and stop >= 0.02


def amplify(rng, texts, copies):
    """Each copy maps every non-stopword token through its own seeded
    bijection onto fresh tokens of the same length, so token counts,
    lengths and stopword ratios (everything the quality gate reads) are
    kept, while copies share no content word."""
    words = sorted({t for x in texts for t in x.split()} - STOPWORDS)
    used = set(VOCAB) | STOPWORDS | {"dup"}
    out = []
    for _ in range(copies):
        m = {}
        for w in words:
            while True:
                t = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(len(w)))
                if t not in used:
                    break
            used.add(t)
            m[w] = t
        out.append([" ".join(m.get(t, t) for t in x.split()) for x in texts])
    return out


def materialized(sql):
    """The oracle SQL with every plain `name AS (` CTE marked MATERIALIZED:
    the same query, but DuckDB evaluates each CTE once instead of once per
    reference (the recursive CTE, written `cc(node, label) AS (`, is left
    as it is; it otherwise re-evaluates its inputs every iteration)."""
    return re.sub(r"(?m)^(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


def gen_corpus(jvm, spec, d, seed):
    if ready(d):
        return
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    # the base corpus is one fixed document set, as a testdata table is; the
    # seed draws the bijections, so every seed does the same amount of work
    fixed = random.Random(BASE_CORPUS_SEED)
    n, copies = spec["base_docs"], spec["copies"]
    base = base_corpus(fixed, n)
    langs = [fixed.choice(LANGS) for _ in range(n)]
    docs = [t for copy in amplify(random.Random(seed), base, copies) for t in copy]
    ids = list(range(n * copies))
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": docs,
        "lang": [langs[i % n] for i in ids],
        "source": [f"src{(i % n) % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t in docs], pa.int64()),
    })
    pq.write_table(table, os.path.join(d, "documents.parquet"))
    with open(os.path.join(d, "documents.count"), "w") as f:
        f.write(str(len(docs)))

    sql_file = os.path.join(d, "oracle.sql")
    jvm.call("oracle", "q_x103_funnel_host_gate", sql_file, log_name="oracle.log")
    con = duckdb.connect()
    parquet = os.path.join(d, "documents.parquet").replace("'", "''")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{parquet}')")
    rows = con.execute(materialized(open(sql_file).read())).fetchall()
    con.close()

    survivors = sum(r[3] for r in rows if r[0] == 1)
    base_survivors = sum(map(passes_quality_gate, base))
    if survivors != base_survivors * copies:
        raise RuntimeError(f"quality-gate survivors {survivors} != {base_survivors} x {copies}: "
                           "the amplification does not preserve the gate")
    with open(os.path.join(d, "expected.tsv"), "w") as f:
        f.write("".join("\t".join(str(c) for c in r) + "\n" for r in rows))
    mark_ready(d)


# ------------------------------------------------------------------- running

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        _, cp = build.build()
    except build.BuildError as e:
        log(f"perfbench: {e}")
        return 2
    # temporary files of an earlier run (Spark block managers, native
    # libraries unpacked into java.io.tmpdir, outputs) are not carried over
    for temp in ("tmp", "spark-local", "work"):
        shutil.rmtree(os.path.join(DATA, temp), ignore_errors=True)
        os.makedirs(os.path.join(DATA, temp))
    jvm = Jvm(cp)
    spec = WORKLOADS[a.workload]
    d = fresh_seed_dir(a.workload, a.seed)
    t0 = time.time()
    (gen_etl if spec["kind"] == "etl" else gen_corpus)(jvm, spec, d, a.seed)
    os.sync()  # no writeback of the fresh inputs during the timed part
    log(f"perfbench: inputs for {a.workload} seed {a.seed} ready in {time.time() - t0:.1f} s")

    local = os.path.join(DATA, "spark-local")
    work = os.path.join(DATA, "work")
    result_file = os.path.join(DATA, "result.json")
    trace_file = os.path.join(DATA, f"trace-{a.workload}-seed{a.seed}.jsonl")
    if os.path.exists(result_file):
        os.remove(result_file)
    jvm.call("run", a.workload, a.seconds, a.trace, time.time_ns(), CPUS, local, d, work,
             result_file, trace_file, log_name="run.log")
    shutil.rmtree(work, ignore_errors=True)
    with open(result_file) as f:
        res = json.load(f)

    got = res["metrics"]
    if a.trace:
        names = PER_LAYER
        # a layer the workload never calls spent nothing in it
        values = {n: got.get(n, 0.0) for n, _ in names}
    else:
        names = END_TO_END
        values = dict(got)
    info = res["info"]
    print(f"{a.workload} seed {a.seed}: {res['attempted']} executions attempted, "
          f"{res['failed']} failed, error_rate {info['error_rate']:.4f} ratio")
    for n, unit in names:
        print(f"  {n} = {values[n]} {unit}")
    if not a.trace:
        print(f"  run_s max of {int(info['run_count'])} warm executions = {info['run_s_max']} s")
        print(f"  run_s samples = {res['run_s_samples']} s")
        print(f"  resident after each execution (median): {info['resident_rdds_after']} RDDs, "
              f"{info['resident_mb_after']} MB")
    for e in res["errors"]:
        print(f"  error: {e}")
    correct = res["failed"] == 0 and all(values[n] is not None for n, _ in names)
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names},
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # a failed step prints no result
        log(f"perfbench: {e}")
        sys.exit(1)
