#!/usr/bin/env python
"""Job-count audit (round 16, VERDICT r15 item 10): run every registry
key at sf0.01 under a per-key job group and record how many Spark jobs
each submits (statusTracker().getJobIdsForGroup). Driver-loop keys and
AQE stage materializations dominate the high counts; see
OPTIMIZATION_r16.md for the audit conclusions. Output:
plans/r16/jobcount_sf001.json.

Given keys as arguments, it runs only those and prints their counts as
JSON instead: ``python tools/jobcount_audit.py KEY [KEY ...]``. Jobs a
key submits from a thread that does not inherit its job group are not
counted."""
import sys, os, time, json
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ.setdefault("SPARK_GRAFT_CPUS", "16")
from t_mobile_data_fnt_etl_pipeline_aws_spark import get_spark
from t_mobile_data_fnt_etl_pipeline_aws_spark.registry import all_queries
spark = get_spark("job-count-audit")
sf = "/root/testdata/sf0.01"
qs = all_queries()
keys = sys.argv[1:] or sorted(qs)
out = {}
for i, k in enumerate(keys):
    spark.sparkContext.setJobGroup(k, k)
    try:
        t0 = time.time()
        qs[k](spark, sf).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(k))
        out[k] = {"jobs": jobs, "sec": round(dt, 2)}
    except Exception as ex:
        out[k] = {"error": str(ex)[:100]}
    if i % 50 == 0:
        print(f"[{i}] {k}", flush=True)
spark.sparkContext.setJobGroup(None, None)
if sys.argv[1:]:
    print(json.dumps(out, indent=1))
else:
    json.dump(out, open(os.path.join(ROOT, "plans/r16/jobcount_sf001.json"), "w"), indent=1)
print("DONE", len(out))
spark.stop()
