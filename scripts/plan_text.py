"""Print the optimized plan of one hot_bands-shaped DedupPipeline.run pass.

Writes gen_pandas(2400, 3, members=400) as 8 parquet parts under a temp
dir, runs one pass on local[4] (``run`` plus collecting its output), and
prints the default config hash, the number of Spark jobs and stages of the
pass, and the optimized logical plan of the returned DataFrame, with the
input path, expression ids, lambda-variable suffixes and plan ids
normalized so two trees compare with diff:

    PYTHONPATH=<tree A> python3 scripts/plan_text.py > a.txt
    PYTHONPATH=<tree B> python3 scripts/plan_text.py > b.txt
    diff a.txt b.txt

The job and stage counts come from the status tracker under the pass's job
group, so counting them runs no job. Stages are the distinct stage ids the
pass's jobs list, skipped ones included.

The package is imported from PYTHONPATH (the Python workers inherit it), so
the script itself can come from either tree.
"""

from __future__ import annotations

import os
import re
import tempfile

from deduplipy_spark.config import EngineConfig
from deduplipy_spark.plans.pipeline import DedupPipeline
from deduplipy_spark.session import get_spark
from deduplipy_spark.sources.datagen import gen_pandas

PASS_GROUP = "plan-text-pass"


def normalize(plan: str, input_dir: str) -> str:
    plan = plan.replace(input_dir, "<input>")
    plan = re.sub(r"#\d+L?", "#N", plan)
    plan = re.sub(r"\b([a-z])_\d+\b", r"\1_N", plan)
    return re.sub(r"plan_id=\d+", "plan_id=N", plan)


def main() -> None:
    spark = get_spark("plan-text", cores=4)
    sc = spark.sparkContext
    pdf = gen_pandas(2400, 3, members=400)
    with tempfile.TemporaryDirectory() as tmp:
        step = -(-len(pdf) // 8)
        for i in range(8):
            pdf.iloc[i * step:(i + 1) * step].to_parquet(
                os.path.join(tmp, f"part-{i:05d}.parquet"), index=False)
        sc.setJobGroup(PASS_GROUP, "one DedupPipeline.run pass")
        out = DedupPipeline(spark, EngineConfig()).run(spark.read.parquet(tmp))
        out.toPandas()
        sc.setJobGroup(None, None)
        plan = normalize(
            out._jdf.queryExecution().optimizedPlan().toString(), tmp)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(PASS_GROUP)
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    print("config_hash", EngineConfig().config_hash())
    print("jobs", len(jobs))
    print("stages", len(stages))
    print(plan)
    spark.stop()


if __name__ == "__main__":
    main()
