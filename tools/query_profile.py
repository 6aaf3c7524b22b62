"""Per-query profile: driver-side construction time (incl. fit actions)
vs noop-sink execution time, plus job counts. Usage:
    python tools/query_profile.py name1 name2 ... [--sf DIR]
Prints one line per query: name construct_s exec_s jobs compiles — a
true median of 3 recorded passes after one warmup pass (ADVICE r8: 2
recorded samples made sorted[n//2] the MAX); the jobs and compiles
columns are from the first recorded pass only (job counts are
deterministic per query shape). ``compiles`` counts the Janino compiles
of that warm pass, construction and execution together: a query whose
warm pass still compiles pays again for code its first pass compiled
(evicted from the code cache, or generated as a different source)."""
import os, sys, time

sys.path.insert(0, "/root/repo")
from mknssh_11_bigdata_spark import get_spark
from mknssh_11_bigdata_spark.queries import QUERIES
from mknssh_11_bigdata_spark.session import release_checkpoints

names = [a for a in sys.argv[1:] if not a.startswith("--")]
sf_dir = "/root/testdata/sf0.1"
for a in sys.argv[1:]:
    if a.startswith("--sf="):
        sf_dir = a.split("=", 1)[1]

spark = get_spark(app_name="query-profile")
sc = spark.sparkContext
codegen = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
from mknssh_11_bigdata_spark.sources.readers import TESTDATA_TABLES, load_table
for t in TESTDATA_TABLES:
    load_table(spark, sf_dir, t).write.format("noop").mode("overwrite").save()

def one(name):
    spec = QUERIES[name]
    release_checkpoints(spark)
    c0 = codegen.METRIC_COMPILATION_TIME().getCount()
    j0 = sc._jsc.sc().dagScheduler().nextJobId()
    t0 = time.perf_counter()
    df = spec.spark(spark, sf_dir)
    t1 = time.perf_counter()
    j1 = sc._jsc.sc().dagScheduler().nextJobId()
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    j2 = sc._jsc.sc().dagScheduler().nextJobId()
    c = codegen.METRIC_COMPILATION_TIME().getCount() - c0
    return t1 - t0, t2 - t1, j1 - j0, j2 - j1, c

results = {}
for sweep in range(4):  # 1 warmup + 3 recorded: odd count => true median
    for name in names:
        r = one(name)
        if sweep:
            results.setdefault(name, []).append(r)
for name, rs in results.items():
    c = sorted(x[0] for x in rs)[len(rs)//2]
    e = sorted(x[1] for x in rs)[len(rs)//2]
    print(f"{name:42s} construct={c:6.2f}s exec={e:6.2f}s jobs_c={rs[0][2]:3d} jobs_e={rs[0][3]:3d} compiles={rs[0][4]:3d}")
spark.stop()
