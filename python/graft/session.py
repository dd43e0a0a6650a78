"""SparkSession plumbing: put the graft classes on the JVM classpath
and activate the engine extensions.

The engine installs three things through
``spark.sql.extensions=graft.functions.GraftExtensions``:

* every ``graft_*`` SQL function (native codegen expressions and
  sketch aggregates),
* the opt-in AQP optimizer rules (``spark.graft.approxDistinct`` /
  ``spark.graft.approxPercentile``),
* the native as-of join planner strategy.

``graft_builder()`` wires all of that plus the classpath; ``activate``
covers the weaker case of a session that already exists (functions
only — extensions cannot be injected after JVM start).
"""

import glob
import os

GRAFT_EXTENSIONS_CLASS = "graft.functions.GraftExtensions"

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def default_classpath():
    """The compiled graft classes: the packaged jar when present,
    otherwise the sbt class directory (local dev)."""
    jars = sorted(glob.glob(os.path.join(
        _REPO_ROOT, "target", "scala-2.13", "graft*.jar")))
    if jars:
        return jars[-1]
    classes = os.path.join(_REPO_ROOT, "target", "scala-2.13", "classes")
    if os.path.isdir(classes):
        return classes
    raise RuntimeError(
        "graft classes not built — run `sbt package` (or `sbt compile`) "
        "in " + _REPO_ROOT)


def graft_builder(classpath=None):
    """A ``SparkSession.builder`` preconfigured for graft: classes on
    the driver/executor classpath and the session extensions active.
    Caller still picks master/app/extra config before ``getOrCreate``.
    """
    from pyspark.sql import SparkSession

    cp = classpath or default_classpath()
    return (SparkSession.builder
            .appName("graft")
            .config("spark.driver.extraClassPath", cp)
            .config("spark.executor.extraClassPath", cp)
            .config("spark.sql.extensions", GRAFT_EXTENSIONS_CLASS)
            # the engine-wide session defaults (Scala source of truth:
            # graft.GraftSession)
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.legacy.parquet.nanosAsLong", "true"))


def activate(spark):
    """Register the ``graft_*`` SQL functions on a LIVE session whose
    JVM already has the graft classes (e.g. started via spark-submit
    --jars). The optimizer rules and the as-of strategy need the
    extensions config at session build time — prefer graft_builder().
    """
    bridge(spark).registerFunctions(spark._jsparkSession)


def bridge(spark):
    """The py4j handle to the Java-typed façade (graft.python.PyBridge)."""
    return spark._jvm.graft.python.PyBridge
