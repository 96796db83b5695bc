"""Re-record the small event log the parser tests read.

    python3 perfbench/tests/record_eventlog.py

Runs three jobs on local[2]: one in span ``a`` (a shuffle, so a
post-shuffle stage), one in span ``b``, and one from a thread the
tracer does not know about while ``b`` is open, which carries no job
group and must be attributed by time window. Writes the event log,
minus the large environment/executor records, and the spans to
tests/data/.
"""

import json
import shutil
import sys
import tempfile
import threading
from pathlib import Path

DATA = Path(__file__).resolve().parent / "data"
sys.path.insert(0, str(DATA.parent.parent))

from tracing import Tracer, event_log_conf, event_log_file  # noqa: E402

KEEP = (
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageSubmitted",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
)


def trim(ev: dict) -> dict:
    """Drop what the parser never reads (accumulables, most properties)."""
    if "Properties" in ev:
        ev["Properties"] = {
            k: v for k, v in ev["Properties"].items() if k == "spark.jobGroup.id"
        }
    for info in [ev.get("Stage Info"), ev.get("Task Info"), *ev.get("Stage Infos", [])]:
        if info:
            info.pop("Accumulables", None)
            info.pop("RDD Info", None)
    ev.pop("Task Executor Metrics", None)
    return ev


def main() -> None:
    from pyspark.sql import SparkSession

    log_dir = Path(tempfile.mkdtemp())
    builder = SparkSession.builder.master("local[2]").config(
        "spark.sql.shuffle.partitions", "3"
    ).config("spark.ui.enabled", "false")
    for k, v in event_log_conf(log_dir).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    tracer = Tracer(spark.sparkContext)
    with tracer.span("a"):
        df = spark.range(1000)
        df.groupBy((df.id % 7).alias("k")).count().collect()
    with tracer.span("b"):
        spark.range(100).count()
        t = threading.Thread(target=lambda: spark.range(50).collect())
        t.start()
        t.join()
    spark.stop()

    DATA.mkdir(exist_ok=True)
    with open(DATA / "eventlog.jsonl", "w") as out:
        with open(event_log_file(log_dir)) as fh:
            for line in fh:
                ev = json.loads(line)
                if ev.get("Event") in KEEP:
                    out.write(json.dumps(trim(ev)) + "\n")
    tracer.write(DATA / "spans.jsonl")
    shutil.rmtree(log_dir)


if __name__ == "__main__":
    main()
