"""Start and stop the engine's Spark session inside the checkout.

Everything Spark writes (block manager and shuffle files, JVM temp files,
the warehouse, the event log) goes under the run's work directory, and
the Python workers import the engine from the checkout root.
"""

from __future__ import annotations

import os

from ebook_conversion_to_text_for_machine_learning_spark.session import build_session

#: Driver heap for the local master: the inputs are tens of MB, and the
#: host is shared.
DRIVER_MEMORY = "2g"


def worker_env(root: str, work: str) -> dict:
    """Environment for this process (the JVM inherits it) and children."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = tmp
    # the short-lived launcher JVM: no perf-data file in the system /tmp
    env["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return env


def start_session(work: str, master: str, extra: dict | None = None):
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
    }
    conf.update(extra or {})
    spark = build_session(app_name="perfbench", master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — any failure to exit: kill and reap
            proc.kill()
            proc.wait(timeout=30)
