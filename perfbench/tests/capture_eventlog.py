#!/usr/bin/env python3
"""Regenerate ``data/tiny_eventlog`` for test_eventlog.py.

    python3 perfbench/tests/capture_eventlog.py

Runs a local[2] session with the uncompressed event log on: one job group
with a shuffle (``tail:cow:0:apply``) and one with a pandas UDF
(``q:q23_normalize``). Keeps only the events the roll-up reads, and of the
job properties only the job group, so the file holds no machine paths.
"""

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
KEEP = ("SparkListenerJobStart", "SparkListenerTaskEnd",
        "SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")


def main() -> None:
    import pandas as pd
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp(dir=HERE)
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.dir", "file://" + tmp)
             .getOrCreate())
    app = spark.sparkContext.applicationId
    sc = spark.sparkContext

    @F.pandas_udf("string")
    def upper(s: pd.Series) -> pd.Series:
        return s.str.upper()

    sc.setJobGroup("tail:cow:0:apply", "shuffle")
    spark.range(0, 20_000, numPartitions=4).groupBy((F.col("id") % 7).alias("k")).count().collect()
    sc.setJobGroup("q:q23_normalize", "pandas udf")
    df = spark.range(0, 2_000, numPartitions=2).select(F.col("id").cast("string").alias("s"))
    df.select(upper("s")).write.format("noop").mode("overwrite").save()
    spark.stop()

    out = []
    with open(os.path.join(tmp, app)) as f:
        for line in f:
            ev = json.loads(line)
            if not ev["Event"].endswith(KEEP):
                continue
            if ev["Event"] == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                ev = {k: ev[k] for k in ("Event", "Job ID", "Submission Time", "Stage IDs")}
                ev["Properties"] = {"spark.jobGroup.id": group}
            elif ev["Event"] == "SparkListenerTaskEnd":
                info = {k: ev["Task Info"][k] for k in ("Launch Time", "Finish Time", "Accumulables")}
                ev = {"Event": ev["Event"], "Stage ID": ev["Stage ID"], "Task Info": info,
                      "Task Metrics": ev["Task Metrics"]}
            else:
                ev = {"Event": ev["Event"], "sparkPlanInfo": ev["sparkPlanInfo"]}
            out.append(json.dumps(ev, separators=(",", ":")))
    shutil.rmtree(tmp)
    os.makedirs(os.path.join(HERE, "data"), exist_ok=True)
    with open(os.path.join(HERE, "data", "tiny_eventlog"), "w") as f:
        f.write("\n".join(out) + "\n")


if __name__ == "__main__":
    sys.exit(main())
