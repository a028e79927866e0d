"""SparkSession factory tuned for the engine.

Local testing runs on local[N]; the configs are chosen so the same plans
scale to a multi-executor cluster: AQE handles skew + partition coalescing,
shuffle partitions sized for the local core count (override
``spark.sql.shuffle.partitions`` upward on a real cluster), Arrow enabled
for the (rare) pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "openverse-catalog-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Defaults favor correctness of the declarative plan + letting AQE pick
    physical details at runtime:
      - AQE on (partition coalescing, skew-join splitting, runtime replan)
      - broadcast threshold left at default 10MB; dimension tables in this
        engine are far smaller and get explicit ``F.broadcast`` hints anyway
      - ANSI off: the reference's coercion semantics are null-on-failure
        (``int(float(x)) except -> None``), which matches non-ANSI casts
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))

    # PER-PROCESS warehouse / Derby metastore / scratch dirs: two Spark
    # sessions on one machine (pytest + an oracle-verify run) sharing
    # ./spark-warehouse and the default Derby dir can collide — saveAsTable
    # paths, Derby's single-process lock, temp-view state. Unique-per-pid
    # roots make concurrent sessions fully independent (override with
    # SPARK_GRAFT_RUN_DIR for a stable location).
    run_dir = os.environ.get(
        "SPARK_GRAFT_RUN_DIR", f"/tmp/spark-graft-run-{os.getpid()}"
    )
    os.makedirs(run_dir, exist_ok=True)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.warehouse.dir", f"{run_dir}/warehouse")
        .config(
            "spark.driver.extraJavaOptions",
            f"-Dderby.system.home={run_dir}/derby",
        )
        .config("spark.local.dir", f"{run_dir}/scratch")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # start every shuffle fine-grained and let AQE coalesce DOWN:
        # with a flat shuffle.partitions=cores, a 100x data burst makes
        # per-task hash aggregates outgrow the heap (the 100x probe's
        # dedup_components OOM); 8x-cores initial partitions keep task
        # working sets bounded at scale while AQE merges them back to
        # ~cores when the data is small, so small-SF plans are unchanged
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get(
                "SPARK_GRAFT_INITIAL_PARTITIONS",
                str(max(256, int(shuffle_partitions) * 8)),
            ),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # bounded driver-side collects (batch key multisets, pruned-read
        # key sets, matview churn keys) are `limit(cap).collect()` over
        # small frames; the default CollectLimit ramp (1 partition, then
        # x4 rounds) turns each into several serial mini-jobs. Scanning
        # `cores` partitions in the first round costs nothing extra
        # (the tasks run in parallel on idle cores) and makes the
        # common <=cores-partition case exactly ONE job — at any scale:
        # the collects are capped by design, not by data size.
        .config(
            "spark.sql.limit.initialNumPartitions", str(cpus)
        )
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # INT96 (the legacy default) writes NO parquet chunk statistics,
        # so timestamp columns forced every commit's manifest stats onto
        # the Spark-scan path; TIMESTAMP_MICROS matches Spark's internal
        # microsecond precision exactly (identical roundtrip) AND gives
        # footer min/max, so driver-side footer stats cover timestamp
        # keys/stats/partition-source columns too
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # testdata events.parquet stores TIMESTAMP(NANOS) which the Parquet
        # reader rejects; read as long and convert (load_tables).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Set the runtime-settable confs the engine depends on, so queries
    behave identically when the caller (e.g. the driver's gate) built its
    own SparkSession: TIMESTAMP(NANOS) parquet columns read as long, and
    non-ANSI null-on-garbage coercion semantics."""
    confs = [
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.ansi.enabled", "false"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.adaptive.enabled", "true"),
    ]
    # size shuffles to the session's actual parallelism instead of the
    # 200 default — right for this engine's workloads at any scale (the
    # read passes a default, so an unset key cannot fail it)
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        confs.append(
            ("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))
        )
    for k, v in confs:
        try:
            spark.conf.set(k, v)
        except AnalysisException:
            pass  # CANNOT_MODIFY_(STATIC_)CONFIG; get_spark sets it at build


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Read the synthetic testdata parquet tables and register temp views.

    Returns dict name -> DataFrame. Partition pruning / column pruning are
    Catalyst's job; we just declare the scans.
    """
    ensure_runtime_confs(spark)
    names = names or (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    )
    out = {}
    for n in names:
        df = spark.read.parquet(os.path.join(sf_dir, f"{n}.parquet"))
        # TIMESTAMP(NANOS) columns arrive as long (nanosAsLong); convert to
        # microsecond timestamps (same truncation DuckDB applies on read).
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        for field in df.schema.fields:
            if field.name == "ts" and isinstance(field.dataType, T.LongType):
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
            elif isinstance(field.dataType, T.TimestampNTZType):
                # plain parquet TIMESTAMP surfaces as NTZ; session TZ is
                # pinned UTC, so casting to TIMESTAMP (LTZ) is a pure type
                # change that keeps unix_micros/watermark exprs working
                df = df.withColumn(
                    field.name, F.col(field.name).cast("timestamp")
                )
        df.createOrReplaceTempView(n)
        out[n] = df
    return out


def _sql_scalar(v) -> str | None:
    """``v`` as exact Spark SQL literal text when it is an exact
    ``int`` (in the long range), ``float``, ``bool`` or ``None``; None
    for anything else (strings bind as parameters). The test is
    ``type(v) is``, so a subclass with its own ``__repr__`` can never
    write into the query text. ``repr`` of a float round-trips through
    the parser's ``Double.parseDouble`` (both are correctly rounded);
    NaN and the infinities have no literal and cast from a string."""
    t = type(v)
    if v is None:
        return "NULL"
    if t is bool:
        return "true" if v else "false"
    if t is int:
        return str(v) if -(2**63) <= v < 2**63 else None
    if t is float:
        if v != v:
            return "CAST('NaN' AS DOUBLE)"
        if v in (float("inf"), float("-inf")):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return repr(v) + "D"
    return None


def literal_df(spark: SparkSession, rows, schema: str):
    """A small literal frame as a LOCAL RELATION (a ``VALUES`` list +
    CAST projection): rows and schema are identical to
    ``spark.createDataFrame(rows, schema)`` (pinned by
    ``tests/test_session.py``) but actions execute driver-side
    (``LocalTableScan``) instead of scheduling a job over a
    parallelized RDD. Measured on local[32]: ``head()`` on a 1-row
    createDataFrame result costs ~0.7 s PER ACTION; the literal form
    ~0.04 s.

    Exact ``int``/``float``/``bool``/``None`` values are written into
    the ``VALUES`` text as exact literals (:func:`_sql_scalar`), so
    building the frame is a constant number of py4j calls however many
    numbers it holds; strings bind as named parameters (never
    string-spliced). The CAST pins each column to the declared type,
    and the no-ELSE CASE keeps every column nullable exactly like
    createDataFrame. Non-scalar cells, ints outside the long range,
    empty row sets and large row sets (>256: parameter-count blowup)
    keep the original path."""
    if (
        not rows
        or len(rows) > 256
        or any(
            # non-sequence rows (dicts, Rows with odd iteration) must
            # keep the createDataFrame path: iterating a dict yields
            # its KEYS, which would silently bind as column values
            not isinstance(r, (tuple, list))
            or any(
                type(v) is not str and _sql_scalar(v) is None for v in r
            )
            for r in rows
        )
    ):
        return spark.createDataFrame(rows, schema)
    from pyspark.sql.types import StructType

    sch = StructType.fromDDL(schema)
    args: dict = {}
    tuples = []
    for ri, r in enumerate(rows):
        cells = []
        for ci, v in enumerate(r):
            if type(v) is str:
                k = f"p{ri}_{ci}"
                args[k] = v
                cells.append(f":{k}")
            else:
                cells.append(_sql_scalar(v))
        tuples.append("(" + ",".join(cells) + ")")
    proj = ", ".join(
        f"CASE WHEN 1=1 THEN CAST(c{i} AS "
        f"{f.dataType.simpleString()}) END AS `{f.name}`"
        for i, f in enumerate(sch.fields)
    )
    cols = ",".join(f"c{i}" for i in range(len(sch.fields)))
    return spark.sql(
        f"SELECT {proj} FROM (VALUES {','.join(tuples)}) AS __v({cols})",
        args=args or None,
    )
