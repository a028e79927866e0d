"""SQL facade: run the engine through plain SQL text.

The reference's users speak SQL — its popularity logic, provider load
scripts and maintenance jobs are SQL files executed against Postgres
(``catalog/dags/common/popularity/sql.py``, every
``provider_csv_load_script``). This engine's surface is the Python
DataFrame API; the facade closes the gap by registering lake tables and
frames as Spark temp views and executing query TEXT against them, with
the two lake-only constructs SQL has no ANSI spelling for rewritten
inline:

  ``<table> VERSION AS OF <n>``        time-travel snapshot read
  ``<table> TIMESTAMP AS OF <epoch>``  newest commit at/before the time
  ``TABLE_CHANGES('<table>', a[, b])`` the change data feed (Delta's
                                       table_changes table function)

Each construct resolves to a dedicated temp view over the CowTable's
manifest-pinned read (``read(version=...)`` / ``read_changes``), so the
rewritten query is ordinary Spark SQL and Catalyst plans it like any
other — pruning, pushdown and join strategy included. Registered head
views re-resolve to the table's CURRENT version on every ``sql()``
call (a version check per table, metadata-only), so a facade session
always queries the latest committed snapshot without re-registration.

DML text against a registered lake table routes to the table's commit
protocol instead of Catalyst:

  ``INSERT INTO <t> <query>``   the UPSERT merge — a lake table's only
                                insert, exactly the reference's
                                ``INSERT ... ON CONFLICT`` loader step
  ``UPDATE <t> SET ... WHERE``  predicated copy-on-write update
  ``DELETE FROM <t> WHERE``     predicated copy-on-write delete

each returning a one-row (version, rows) summary frame. Predicates and
SET expressions are parsed by Spark (``F.expr``), so any Spark SQL
expression works; writers get the same optimistic concurrency +
logical conflict re-link every API commit gets.

The ANSI upsert spelling is also accepted —

  ``MERGE INTO t [AS a] USING (<query>)|<view> [AS b] ON <key equalities>
  WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *``

(Delta's SET */INSERT * shorthand; the ON clause is validated against
the table's merge keys) — plus the maintenance statements the
reference runs as dedicated DAGs:

  ``DESCRIBE HISTORY <t>``                 commit log as a frame
  ``DESCRIBE DETAIL <t>``                  one operational-state row:
                                           size, tombstone liveness +
                                           horizon, ANALYZE freshness
  ``TABLE_TOMBSTONES('<t>')``              the CDC delete fences as a
                                           queryable relation
  ``OPTIMIZE <t> [ZORDER BY (c, ...)]``    bin-pack / z-order compaction
  ``VACUUM <t> [RETAIN n VERSIONS]``       manifest + orphan-file GC
  ``MAINTAIN <t> [TARGET n ROWS]
              [RETAIN n VERSIONS]``        the whole unattended tick:
                                           z-aware compact, drift-gated
                                           re-cluster, stats advance,
                                           vacuum — one statement
  ``MAINTAIN CATALOG [TARGET n ROWS]
    [RETAIN n VERSIONS]
    [HISTORY h COMMITS]``                  the catalog-integrated tick:
                                           recover() first, per-table
                                           transactional compaction,
                                           pin- AND clone-protected
                                           vacuum; HISTORY trims old
                                           catalog commits (their pins
                                           stop protecting versions)
  ``CREATE TABLE c SHALLOW CLONE t
    [VERSION AS OF n] [LOCATION '...']``   zero-copy branch (Delta
                                           CLONE): one manifest write,
                                           no data copied
  ``CREATE TABLE t (col type, ...)
    PRIMARY KEY (k, ...) [PARTITIONED BY
    (...)] [LOCATION '...']``              EMPTY table from a declared
                                           column list (the reference's
                                           DDL-first posture); INSERT /
                                           MERGE / streams land on the
                                           zero-file v1 snapshot

plus the derived-table lifecycle: ``CREATE MATERIALIZED VIEW`` in all
three shapes (GROUP BY over a lake table; ``SELECT * FROM a JOIN b``;
GROUP BY over a JOIN — the reference's image_view shape), ``REFRESH`` /
``SHOW`` / ``DROP MATERIALIZED VIEW``, and ``APPLY CHANGES INTO ...
SEQUENCE BY s [OP COLUMN o] [TOMBSTONE RETENTION secs]`` (DLT CDC apply
with late-delete fencing). Registered ANALYZEd tables whose CURRENT
manifest row count sits under ``spark.openverse.sql.autoBroadcastRows``
carry a broadcast hint into every facade join (cost-based planning, the
pg_stats analog — bounded by the live manifest count, so a stale
ANALYZE can never pin an oversized broadcast).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openverse_catalog_spark.operators.cowtable import CowTable
from openverse_catalog_spark.schemas.columns import (
    ColumnSpec,
    Datatype,
    UpsertStrategy,
)

_VERSION_AS_OF = re.compile(
    r"\b(\w+)\s+VERSION\s+AS\s+OF\s+(\d+)", re.IGNORECASE
)
_TIMESTAMP_AS_OF = re.compile(
    r"\b(\w+)\s+TIMESTAMP\s+AS\s+OF\s+([0-9]+(?:\.[0-9]+)?)", re.IGNORECASE
)
_TABLE_CHANGES = re.compile(
    r"\bTABLE_CHANGES\s*\(\s*'(\w+)'\s*,\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)",
    re.IGNORECASE,
)
_TABLE_FILES = re.compile(
    r"\bTABLE_FILES\s*\(\s*'(\w+)'\s*(?:,\s*(\d+)\s*)?\)", re.IGNORECASE
)
_TABLE_PARTITIONS = re.compile(
    r"\bTABLE_PARTITIONS\s*\(\s*'(\w+)'\s*(?:,\s*(\d+)\s*)?\)",
    re.IGNORECASE,
)
_INSERT_INTO = re.compile(
    r"^\s*INSERT\s+INTO\s+(\w+)\s+(.+)$", re.IGNORECASE | re.DOTALL
)
_UPDATE = re.compile(
    r"^\s*UPDATE\s+(\w+)\s+SET\s+(.+?)(?:\s+WHERE\s+(.+))?$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE = re.compile(
    r"^\s*DELETE\s+FROM\s+(\w+)(?:\s+WHERE\s+(.+))?$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_INTO = re.compile(
    r"^\s*MERGE\s+INTO\s+(\w+)(?:\s+AS\s+(\w+))?\s+USING\s+"
    r"(?:\((.+)\)|(\w+))\s+(?:AS\s+)?(\w+)?\s*"
    r"ON\s+(.+?)\s+(WHEN\s+.+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
#: clause boundaries: a bare CASE WHEN inside a SET expression never
#: spells "WHEN [NOT] MATCHED", so splitting on that phrase is safe
_WHEN_SPLIT = re.compile(
    r"(?=\bWHEN\s+(?:NOT\s+)?MATCHED\b)", re.IGNORECASE
)
_WHEN_MATCHED = re.compile(
    r"^WHEN\s+MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+"
    r"(?:(DELETE)|UPDATE\s+SET\s+(.+?))\s*$",
    re.IGNORECASE | re.DOTALL,
)
_WHEN_NOT_MATCHED = re.compile(
    r"^WHEN\s+NOT\s+MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+INSERT\s+\*\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ON_EQ = re.compile(
    r"^\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*$"
)
_CREATE_MV = re.compile(
    r"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(\w+)\s+AS\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_REFRESH_MV = re.compile(
    r"^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(\w+)\s*$", re.IGNORECASE
)
_MV_SELECT = re.compile(
    r"^\s*SELECT\s+(.+?)\s+FROM\s+(\w+)\s+GROUP\s+BY\s+([\w\s,]+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_MV_AGG_ITEM = re.compile(
    r"^(count|sum|avg|min|max)\s*\(\s*(\*|\w+)\s*\)\s+AS\s+(\w+)$",
    re.IGNORECASE,
)
_MV_JOIN = re.compile(
    r"^\s*SELECT\s+\*\s+FROM\s+(\w+)\s+(LEFT\s+)?JOIN\s+(\w+)\s+"
    r"ON\s+(.+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_MV_JOIN_AGG = re.compile(
    r"^\s*SELECT\s+(.+?)\s+FROM\s+(\w+)\s+(LEFT\s+)?JOIN\s+(\w+)\s+"
    r"ON\s+(.+?)\s+GROUP\s+BY\s+([\w\s,]+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DESCRIBE_HISTORY = re.compile(
    r"^\s*DESCRIBE\s+HISTORY\s+(\w+)\s*$", re.IGNORECASE
)
_DESCRIBE_DETAIL = re.compile(
    r"^\s*DESCRIBE\s+DETAIL\s+(\w+)\s*$", re.IGNORECASE
)
_TABLE_TOMBSTONES = re.compile(
    r"\bTABLE_TOMBSTONES\s*\(\s*'(\w+)'\s*\)", re.IGNORECASE
)
_OPTIMIZE = re.compile(
    r"^\s*OPTIMIZE\s+(\w+)"
    r"(?:\s+ZORDER\s+BY\s*\(\s*([\w\s,]+?)\s*\)(\s+INCREMENTAL)?)?\s*$",
    re.IGNORECASE,
)
_APPLY_CHANGES = re.compile(
    r"^\s*APPLY\s+CHANGES\s+INTO\s+(\w+)\s+FROM\s+(?:\((.+)\)|(\w+))\s+"
    r"SEQUENCE\s+BY\s+(\w+)(?:\s+OP\s+COLUMN\s+(\w+))?"
    r"(?:\s+TOMBSTONE\s+RETENTION\s+(\d+(?:\.\d+)?))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_VACUUM = re.compile(
    r"^\s*VACUUM\s+(\w+)(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?"
    r"(\s+DRY\s+RUN)?\s*$",
    re.IGNORECASE,
)
_TRUNCATE = re.compile(
    r"^\s*TRUNCATE\s+TABLE\s+(\w+)\s*$", re.IGNORECASE
)
_CREATE_SIDX = re.compile(
    r"^\s*(CREATE|ATTACH)\s+SEARCH\s+INDEX\s+(\w+)\s+ON\s+(\w+)\s*"
    r"\(\s*(\w+)\s*\)(?:\s+LOCATION\s+'([^']+)')?\s*$",
    re.IGNORECASE,
)
_REFRESH_SIDX = re.compile(
    r"^\s*REFRESH\s+SEARCH\s+INDEX\s+(\w+)\s*$", re.IGNORECASE
)
_DROP_SIDX = re.compile(
    r"^\s*DROP\s+SEARCH\s+INDEX\s+(\w+)\s*$", re.IGNORECASE
)
_SEARCH_TVF = re.compile(
    r"\bSEARCH_INDEX\s*\(\s*'(\w+)'\s*,\s*'([^']+)'\s*,\s*(\d+)"
    r'(?:\s*,\s*WHERE\s+"([^"]+)")?\s*\)',
    re.IGNORECASE,
)
_CREATE_VIDX = re.compile(
    r"^\s*(CREATE|ATTACH)\s+VECTOR\s+INDEX\s+(\w+)\s+ON\s+(\w+)\s*"
    r"\(\s*(\w+)\s*\)(?:\s+CENTROID\s+MOD\s+(\d+))?"
    r"(?:\s+PQ\s+(\d+)(\s+RESIDUAL)?)?"
    r"(?:\s+(LEARNED)(?:\s+(\d+))?)?"
    r"(?:\s+LOCATION\s+'([^']+)')?\s*$",
    re.IGNORECASE,
)
_REFRESH_VIDX = re.compile(
    r"^\s*REFRESH\s+VECTOR\s+INDEX\s+(\w+)\s*$", re.IGNORECASE
)
_DROP_VIDX = re.compile(
    r"^\s*DROP\s+VECTOR\s+INDEX\s+(\w+)\s*$", re.IGNORECASE
)
_REINDEX_VIDX = re.compile(
    r"^\s*REINDEX\s+VECTOR\s+INDEX\s+(\w+)"
    r"(?:\s+CENTROID\s+MOD\s+(\d+))?"
    r"(?:\s+(LEARNED)(?:\s+(\d+))?)?\s*$",
    re.IGNORECASE,
)
_VECTOR_TVF = re.compile(
    r"\bVECTOR_SEARCH\s*\(\s*'(\w+)'\s*,\s*'([^']+)'\s*,\s*(\d+)"
    r"(?:\s*,\s*(\d+))?"
    r'(?:\s*,\s*WHERE\s+"([^"]+)")?\s*\)',
    re.IGNORECASE,
)
_SHOW_CREATE = re.compile(
    r"^\s*SHOW\s+CREATE\s+TABLE\s+(\w+)\s*$", re.IGNORECASE
)
_EXPLAIN = re.compile(
    r"^\s*EXPLAIN(?:\s+(EXTENDED|FORMATTED|CODEGEN|COST))?\s+"
    r"((?:SELECT|WITH|VALUES|TABLE)\b.*)$",
    re.IGNORECASE | re.DOTALL,
)
_MAINTAIN_CATALOG = re.compile(
    r"^\s*MAINTAIN\s+(CATALOG)"
    r"(?:\s+TARGET\s+(\d+)\s+ROWS)?"
    r"(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?"
    r"(?:\s+HISTORY\s+(\d+)\s+COMMITS)?"
    r"(?:\s+REINDEX\s+SKEW\s+(\d+(?:\.\d+)?)"
    r"(?:\s+(LEARNED)(?:\s+(\d+))?)?)?\s*$",
    re.IGNORECASE,
)
_MAINTAIN = re.compile(
    r"^\s*MAINTAIN\s+(\w+)"
    r"(?:\s+TARGET\s+(\d+)\s+ROWS)?"
    r"(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?\s*$",
    re.IGNORECASE,
)
_ALTER_ADD_COL = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+ADD\s+COLUMN\s+(\w+)\s+"
    r"([\w<>(),:\s]+?)\s*$",
    re.IGNORECASE,
)
_ALTER_RENAME = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*$",
    re.IGNORECASE,
)
_ALTER_RENAME_TABLE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+RENAME\s+TO\s+(\w+)\s*$",
    re.IGNORECASE,
)
_ALTER_DROP_COL = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+DROP\s+COLUMN\s+(\w+)\s*$",
    re.IGNORECASE,
)
_ALTER_ADD_CHECK = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+ADD\s+CONSTRAINT\s+(\w+)\s+"
    r"CHECK\s*\((.+)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_DROP_CHECK = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+DROP\s+CONSTRAINT\s+(\w+)\s*$",
    re.IGNORECASE,
)
_BEGIN_TXN = re.compile(
    r"^\s*BEGIN(?:\s+TRANSACTION)?\s*;?\s*$", re.IGNORECASE
)
_COMMIT_TXN = re.compile(r"^\s*COMMIT\s*;?\s*$", re.IGNORECASE)
_ROLLBACK_TXN = re.compile(r"^\s*ROLLBACK\s*;?\s*$", re.IGNORECASE)
_SHOW_TABLES = re.compile(r"^\s*SHOW\s+TABLES\s*$", re.IGNORECASE)
_SHOW_IDX = re.compile(
    r"^\s*SHOW\s+INDEXES\s*$", re.IGNORECASE
)
_SHOW_MVS = re.compile(
    r"^\s*SHOW\s+MATERIALIZED\s+VIEWS\s*$", re.IGNORECASE
)
_DROP_MV = re.compile(
    r"^\s*DROP\s+MATERIALIZED\s+VIEW\s+(\w+)\s*$", re.IGNORECASE
)
_COPY_TO = re.compile(
    r"^\s*COPY\s*\((.+)\)\s*TO\s+'([^']+)'\s*"
    r"\(\s*FORMAT\s+(PARQUET|TSV)\s*\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ANALYZE = re.compile(
    r"^\s*ANALYZE\s+TABLE\s+(\w+)(?:\s+COMPUTE\s+STATISTICS)?"
    r"(\s+INCREMENTAL)?\s*$",
    re.IGNORECASE,
)
_CREATE_TABLE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(\w+)\s+PRIMARY\s+KEY\s*\(([\w\s,]+?)\)\s+"
    r"(?:PARTITIONED\s+BY\s*\(((?:[^()]|\([^()]*\))*)\)\s+)?"
    r"(?:LOCATION\s+'([^']+)'\s+)?AS\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_TABLE_EMPTY = re.compile(
    r"^\s*CREATE\s+TABLE\s+(\w+)\s*\(((?:[^()]|\([^()]*\))*)\)\s*"
    r"PRIMARY\s+KEY\s*\(([\w\s,]+?)\)\s*"
    r"(?:PARTITIONED\s+BY\s*\(((?:[^()]|\([^()]*\))*)\)\s*)?"
    r"(?:LOCATION\s+'([^']+)')?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_SET_PART = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+SET\s+PARTITION\s+SPEC\s*"
    r"\(((?:[^()]|\([^()]*\))*)\)\s*$",
    re.IGNORECASE,
)
_DROP_TABLE = re.compile(
    r"^\s*DROP\s+TABLE\s+(\w+)\s*$", re.IGNORECASE
)
_CLONE_TABLE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(\w+)\s+SHALLOW\s+CLONE\s+(\w+)"
    r"(?:\s+VERSION\s+AS\s+OF\s+(\d+))?"
    r"(?:\s+LOCATION\s+'([^']+)')?\s*$",
    re.IGNORECASE,
)
_RESTORE_TABLE = re.compile(
    r"^\s*RESTORE\s+TABLE\s+(\w+)\s+TO\s+(?:VERSION\s+AS\s+OF\s+(\d+)"
    r"|TIMESTAMP\s+AS\s+OF\s+([0-9]+(?:\.[0-9]+)?))\s*$",
    re.IGNORECASE,
)


def _split_top_level(text: str) -> list[str]:
    """Split on TOP-LEVEL commas only (paren depth tracked)."""
    parts, depth, cur = [], 0, []
    for ch in text:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return parts


def _split_assignments(text: str) -> list[tuple[str, str]]:
    """Split ``a = f(x, y), b = z`` on top-level commas, then each
    piece on its first ``=``."""
    parts = _split_top_level(text)
    out = []
    for p in parts:
        col, _, expr = p.partition("=")
        if not expr:
            raise ValueError(f"malformed SET assignment: {p.strip()!r}")
        out.append((col.strip(), expr.strip()))
    return out


def _live_tombstones(ts) -> DataFrame:
    """The store's rows filtered to fences that still FENCE: expired
    tombstones (past the retention the last apply recorded) are kept on
    disk until the periodic sweep but are ignored by the apply fence,
    so observability must ignore them too. Stores written before the
    retention sidecar existed report raw rows (no window to judge by)."""
    import time

    from openverse_catalog_spark.streaming.incremental import (
        tombstone_retention_of,
    )

    df = ts.read()
    retention = tombstone_retention_of(ts.root)
    if retention is None:
        return df
    return df.filter(F.col("__ts_at") >= time.time() - retention)


def _mv_staleness(mv) -> tuple[str | None, int | None]:
    """(applied, staleness) for SHOW MATERIALIZED VIEWS: the versions
    the MV last applied (from its own state file) and how many base
    commits it is behind — the freshness signal the reference reads
    from Postgres catalogs, surfaced here from mv_state.json +
    manifest heads (metadata only, no scan). (None, None) when the MV
    was never built."""
    kind = type(mv).__name__
    try:
        if kind == "MaterializedView":
            a = int(mv._load_state()["applied_base"])
            return f"v{a}", mv.base.version - a
        if kind == "JoinMaterializedView":
            st = mv._load_state()
            al, ar = int(st["applied_left"]), int(st["applied_right"])
            lag = (mv.left.version - al) + (mv.right.version - ar)
            return f"L{al}/R{ar}", lag
        if kind == "JoinAggMaterializedView":
            jst = mv.join_mv._load_state()
            ast = mv.agg_mv._load_state()
            al = int(jst["applied_left"])
            ar = int(jst["applied_right"])
            ab = int(ast["applied_base"])
            lag = (
                (mv.join_mv.left.version - al)
                + (mv.join_mv.right.version - ar)
                + (mv.join_mv.table.version - ab)
            )
            return f"L{al}/R{ar}/J{ab}", lag
    except (FileNotFoundError, KeyError, ValueError):
        return None, None
    return None, None


class SqlFacade:
    """Name registry + SQL runner for frames and CoW lake tables."""

    def __init__(self, spark: SparkSession, workdir: str | None = None):
        self.spark = spark
        self.workdir = workdir
        self._tables: dict[str, CowTable] = {}
        self._columns: dict[str, list] = {}
        # name -> (version, broadcast_hinted): the registered view's
        # identity; re-registers when either half changes
        self._head_version: dict[str, tuple[int, bool]] = {}
        self._mvs: dict = {}
        self._sidx: dict = {}
        self._vidx: dict = {}
        # monotonic suffix for inline index-TVF temp views: two
        # different term/k (or vector/k) substitutions in one statement
        # must never collide the way a salted hash() could. Views are
        # PER-STATEMENT: recorded here during _rewrite and dropped
        # right after analysis (_run_rewritten) — spark.sql resolves
        # views at analysis time, so the returned lazy frame keeps
        # working and a long-lived facade never accumulates one temp
        # view per inline index query
        self._idx_view_seq = 0
        self._stmt_views: list[str] = []
        self._catalog = None
        self._catalog_names: set[str] = set()
        self._txn = None

    # -- statement results ---------------------------------------------------

    def _result_df(self, rows, schema: str) -> DataFrame:
        """Statement-result frame as a LOCAL RELATION
        (:func:`~openverse_catalog_spark.session.literal_df`): rows and
        schema equal ``spark.createDataFrame(rows, schema)``'s, but
        actions execute driver-side (``LocalTableScan``) instead of
        scheduling a job over a parallelized RDD — every DDL/DML
        statement returns one of these and most callers action it at
        least once."""
        from openverse_catalog_spark.session import literal_df

        return literal_df(self.spark, rows, schema)

    # -- registration --------------------------------------------------------

    def register_df(self, name: str, df: DataFrame) -> None:
        """Expose a static frame (a parquet load, a dim) as a view."""
        df.createOrReplaceTempView(name)

    def register_table(self, name: str, table: CowTable, columns=None) -> None:
        """Expose a CoW lake table: ``name`` always reads the CURRENT
        snapshot (re-resolved per query), the time-travel / CDF
        constructs above work against it, and DML text routes to the
        table's commit protocol — ``INSERT INTO`` runs the UPSERT merge
        (the lake table's only insert, exactly the reference's
        ``INSERT ... ON CONFLICT`` contract; requires ``columns``, the
        table's ColumnSpec list, for the per-column strategies),
        ``UPDATE``/``DELETE`` become predicated copy-on-write commits."""
        self._tables[name] = table
        if columns is not None:
            self._columns[name] = columns
        self._refresh_head(name)

    def attach_catalog(self, catalog, columns: dict | None = None) -> None:
        """Expose every table of a
        :class:`~.operators.catalog.LakeCatalog` and enable transaction
        text: ``BEGIN [TRANSACTION]`` / ``COMMIT`` / ``ROLLBACK``.
        Catalog-managed names read the version the CATALOG pins (not
        the table head), so facade readers get the catalog's cross-
        table consistency; inside a transaction, reads see the txn's
        begin snapshot plus its own writes (snapshot isolation +
        read-your-writes). DML on a catalog table outside an explicit
        transaction runs in an implicit per-statement one (mutate +
        publish), so the catalog pin always advances with the text.
        ``columns`` maps table name -> ColumnSpec list for INSERT/MERGE
        text."""
        self._catalog = catalog
        for name, e in catalog._load()["tables"].items():
            self._tables[name] = CowTable(
                self.spark, e["root"], keys=tuple(e["keys"])
            )
            self._catalog_names.add(name)
            if columns and name in columns:
                self._columns[name] = columns[name]
            self._refresh_head(name)

    def _stats_say_broadcastable(self, t: CowTable, v: int) -> bool:
        """Cost-based broadcast decision: a table that has been
        ANALYZEd (the opt-in — same gesture as the reference leaning on
        pg_stats) and whose CURRENT snapshot at ``v`` holds at most
        ``spark.openverse.sql.autoBroadcastRows`` live rows (default
        500k, 0 disables) is hint-broadcast in every facade join —
        Catalyst then picks BroadcastHashJoin even where the scan's
        byte-size estimate (inflated by small-file overhead or a wide
        schema it will prune) missed the threshold. The row bound is
        checked against the MANIFEST's exact live count at ``v``
        (``live_rows`` — free, version-pinned metadata), never the
        analyzed snapshot's count, so the forced hint can NOT go stale:
        a dimension analyzed at 400k rows that then takes a 100×
        backfill drops out of broadcast planning on the very next
        facade query, no re-ANALYZE required. Stats still carry what
        the manifest cannot answer (NDV, null fractions, per-column
        bounds)."""
        try:
            limit = int(self.spark.conf.get(
                "spark.openverse.sql.autoBroadcastRows", "500000"
            ))
        except ValueError:
            return False
        if limit <= 0:
            return False
        if t.stats(version=v) is None:
            return False
        try:
            return t.live_rows(v) <= limit
        except (FileNotFoundError, KeyError, ValueError):
            return False

    def _refresh_head(self, name: str) -> None:
        t = self._tables[name]
        if name in self._catalog_names:
            if self._txn is not None and name in self._txn._touched:
                v = self._txn._touched[name].published_version
            elif self._txn is not None:
                v = self._txn._snap["tables"][name]["version"]
            else:
                v = self._catalog._entry(name)["version"]
        else:
            v = t.version
        bcast = self._stats_say_broadcastable(t, v)
        if self._head_version.get(name) != (v, bcast):
            df = t.read(version=v)
            if bcast:
                df = F.broadcast(df)
            df.createOrReplaceTempView(name)
            self._head_version[name] = (v, bcast)

    def _dml_table(self, name: str):
        """The commit target for one DML statement: the transaction's
        proxied handle when one is active (or an implicit single-
        statement transaction for catalog tables), else the raw
        table. Returns (handle, finalize) — call finalize() after the
        operation lands."""
        if name not in self._catalog_names:
            return self._tables[name], (lambda: None)
        if self._txn is not None:
            return self._txn.table(name), (lambda: None)
        txn = self._catalog.transaction().__enter__()

        def finalize():
            txn.__exit__(None, None, None)
            self._refresh_head(name)

        return txn.table(name), finalize

    # -- execution -----------------------------------------------------------

    def _rewrite(self, text: str) -> str:
        """Resolve lake-only constructs to temp views; everything else
        is untouched Spark SQL."""

        def need(name: str) -> CowTable:
            if name not in self._tables:
                raise ValueError(
                    f"{name!r} is not a registered lake table "
                    f"(have: {sorted(self._tables)}); time travel and "
                    "TABLE_CHANGES need register_table()"
                )
            return self._tables[name]

        def _register_snapshot(t: CowTable, v: int, view: str) -> None:
            df = t.read(version=v)
            if self._stats_say_broadcastable(t, v):
                df = F.broadcast(df)
            df.createOrReplaceTempView(view)

        def version_of(match: re.Match) -> str:
            name, v = match.group(1), int(match.group(2))
            view = f"{name}__v{v}"
            _register_snapshot(need(name), v, view)
            return view

        def timestamp_of(match: re.Match) -> str:
            name, ts = match.group(1), float(match.group(2))
            t = need(name)
            v = t.version_as_of(ts)
            view = f"{name}__v{v}"
            _register_snapshot(t, v, view)
            return view

        def changes_of(match: re.Match) -> str:
            name = match.group(1)
            lo = int(match.group(2))
            hi = int(match.group(3)) if match.group(3) else None
            t = need(name)
            hi_v = t.version if hi is None else hi
            view = f"{name}__changes_{lo}_{hi_v}"
            t.read_changes(lo, hi).createOrReplaceTempView(view)
            return view

        def files_of(match: re.Match) -> str:
            name = match.group(1)
            v = int(match.group(2)) if match.group(2) else None
            t = need(name)
            view = f"{name}__files_{v if v is not None else t.version}"
            t.files_df(version=v).createOrReplaceTempView(view)
            return view

        def partitions_of(match: re.Match) -> str:
            name = match.group(1)
            v = int(match.group(2)) if match.group(2) else None
            t = need(name)
            view = f"{name}__parts_{v if v is not None else t.version}"
            t.partitions_df(version=v).createOrReplaceTempView(view)
            return view

        def tombstones_of(match: re.Match) -> str:
            # the CDC delete fences as a queryable relation (key cols +
            # __ts_seq + __ts_at) — `SELECT max(__ts_seq) ...` is the
            # store's sequence horizon. LIVE fences only: an expired
            # tombstone the lazy purge has not yet removed fences
            # nothing, so exposing it would misstate what the next
            # apply drops. Absence is an error here (the store's schema
            # depends on the table's keys + sequence type); DESCRIBE
            # DETAIL reports liveness without erroring.
            from openverse_catalog_spark.streaming.incremental import (
                _tombstone_store,
            )

            name = match.group(1)
            t = need(name)
            ts = _tombstone_store(t, t.keys)
            if ts is None:
                raise ValueError(
                    f"{name!r} has no live tombstone store (APPLY "
                    "CHANGES ... TOMBSTONE RETENTION creates one); use "
                    "DESCRIBE DETAIL to check liveness"
                )
            view = f"{name}__tombstones_{ts.version}"
            _live_tombstones(ts).createOrReplaceTempView(view)
            return view

        def search_of(match: re.Match) -> str:
            # SEARCH_INDEX('idx', 'space separated terms', k): top-k
            # BM25 served from the named index's postings (term-range
            # file pruning; the corpus is never tokenized at query
            # time) as an inline relation (doc_id, score).
            # SEARCH_INDEX('idx', '"an exact phrase"', k): the
            # double-quoted form runs an EXACT-PHRASE query against the
            # positional postings instead — relation (doc_id, hits).
            # Either form takes an optional trailing `, WHERE "pred"`
            # — FILTERED retrieval: the predicate pre-filters the BASE
            # table at the applied version (candidates only; idf/N
            # stay corpus-wide, the Lucene/ES filter-context rule)
            name, terms_text, k, where = match.groups()
            if name not in self._sidx:
                raise ValueError(
                    f"{name!r} is not a registered search index "
                    f"(have: {sorted(self._sidx)}); CREATE SEARCH "
                    "INDEX first"
                )
            self._idx_view_seq += 1
            view = f"{name}__search_{self._idx_view_seq}"
            stripped = terms_text.strip()
            if (
                len(stripped) >= 2
                and stripped.startswith('"')
                and stripped.endswith('"')
            ):
                out = self._sidx[name].phrase(
                    stripped[1:-1], int(k), where=where
                )
            else:
                terms = [t for t in terms_text.split() if t]
                if not terms:
                    raise ValueError("SEARCH_INDEX needs >= 1 term")
                out = self._sidx[name].bm25(terms, int(k), where=where)
            out.createOrReplaceTempView(view)
            self._stmt_views.append(view)
            return view

        def vector_of(match: re.Match) -> str:
            # VECTOR_SEARCH('idx', '<floats>', k[, nprobe]
            #               [, WHERE "predicate"]): top-k cosine
            # neighbors served from the named IVF index (centroid-range
            # file pruning; the corpus is never scanned at query time)
            # as an inline relation (neighbor_id, cosine). The WHERE
            # arm is FILTERED ANN: the double-quoted predicate resolves
            # against the index's BASE table at its applied version and
            # nprobe escalates until the probed lists hold min(k,
            # matches) matching vectors — a recall floor, not
            # over-fetch-and-post-filter
            name, vec_text, k, nprobe, where = match.groups()
            if name not in self._vidx:
                raise ValueError(
                    f"{name!r} is not a registered vector index "
                    f"(have: {sorted(self._vidx)}); CREATE VECTOR "
                    "INDEX first"
                )
            try:
                qvec = [float(x) for x in vec_text.split()]
            except ValueError:
                raise ValueError(
                    "VECTOR_SEARCH query must be space-separated "
                    f"numbers, got {vec_text!r}"
                ) from None
            if not qvec:
                raise ValueError("VECTOR_SEARCH needs a query vector")
            self._idx_view_seq += 1
            view = f"{name}__vsearch_{self._idx_view_seq}"
            self._vidx[name].search(
                qvec, int(k), nprobe=int(nprobe) if nprobe else 2,
                where=where,
            ).createOrReplaceTempView(view)
            self._stmt_views.append(view)
            return view

        text = _SEARCH_TVF.sub(search_of, text)
        text = _VECTOR_TVF.sub(vector_of, text)
        text = _TABLE_CHANGES.sub(changes_of, text)
        text = _TABLE_FILES.sub(files_of, text)
        text = _TABLE_PARTITIONS.sub(partitions_of, text)
        text = _TABLE_TOMBSTONES.sub(tombstones_of, text)
        text = _VERSION_AS_OF.sub(version_of, text)
        text = _TIMESTAMP_AS_OF.sub(timestamp_of, text)
        return text

    def _run_rewritten(self, text: str) -> DataFrame:
        """Analyze rewritten SQL, then drop the per-statement index-TVF
        views it created. spark.sql resolves temp views at ANALYSIS
        time, so the returned lazy frame is unaffected; without the
        drop, a facade running inline SEARCH_INDEX/VECTOR_SEARCH in a
        loop accumulates one temp view per call."""
        try:
            df = self.spark.sql(self._rewrite(text))
        finally:
            # drop even when rewrite/analysis raises: a leaked view
            # would outlive DROP INDEX's rmtree and fail later with
            # FileNotFound instead of the facade's clear error
            for view in self._stmt_views:
                self.spark.catalog.dropTempView(view)
            self._stmt_views.clear()
        return df

    def _explain(self, query: str, mode: str) -> DataFrame:
        """``EXPLAIN [EXTENDED|FORMATTED|CODEGEN|COST] <select>`` — the
        plan of the REWRITTEN query as a one-column frame, one row per
        plan line. The query routes through the exact rewrite path
        ``sql()`` runs (time travel pins resolve to snapshot views,
        TABLE_CHANGES / SEARCH_INDEX / VECTOR_SEARCH TVFs expand), so a
        SQL user finally sees what a ``VERSION AS OF`` or TVF query
        actually scans — the last observability surface DESCRIBE
        HISTORY / DETAIL / SHOW did not cover. Default mode is
        Catalyst's FORMATTED physical rendering (the one that shows
        PushedFilters / ReadSchema per scan)."""
        import contextlib
        import io

        df = self._run_rewritten(query)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode=mode)
        lines = buf.getvalue().rstrip("\n").split("\n")
        return self._result_df(
            [(ln,) for ln in lines], "plan string"
        )

    def _summary(self, res: dict) -> DataFrame:
        return self._result_df(
            [(res["version"], res["rows"])], "version long, rows long"
        )

    def _describe_detail(self, name: str) -> DataFrame:
        """DESCRIBE DETAIL: one metadata-only row of the operational
        state the reference reads from Postgres catalogs — snapshot
        size, tombstone-store liveness + sequence horizon, ANALYZE
        freshness (stats_lag = commits since the stats were computed).
        Everything comes from manifests/state files except the
        tombstone horizon (one aggregate over the small side table).
        Tombstone count/horizon cover LIVE fences only: a stored
        tombstone past its retention no longer fences (the physical
        purge is lazy), and reporting it would claim a drop the apply
        will not make."""
        from openverse_catalog_spark.streaming.incremental import (
            _tombstone_store,
        )

        t = self._tables[name]
        m = t._manifest()
        ts = _tombstone_store(t, t.keys)
        n_tomb, horizon = 0, None
        if ts is not None:
            r = _live_tombstones(ts).agg(
                F.count(F.lit(1)).alias("n"),
                F.max("__ts_seq").cast("string").alias("h"),
            ).head()
            n_tomb, horizon = int(r["n"]), r["h"]
        st = t.stats()
        return self._result_df(
            [(
                name, int(m["version"]), int(m["rows"]),
                len(m["files"]),
                ts is not None, n_tomb, horizon,
                int(st["version"]) if st else None,
                int(m["version"]) - int(st["version"]) if st else None,
            )],
            "name string, version long, rows long, files long, "
            "has_tombstones boolean, tombstones long, "
            "tombstone_horizon string, stats_version long, "
            "stats_lag long",
        )

    def _catalog_pin(self, tbl: str) -> int | None:
        """The catalog-pinned version of a table name, or None for a
        plain (non-catalog) registration — THE rule for what a search
        index may see, shared by CREATE and REFRESH."""
        if tbl in self._catalog_names:
            return int(self._catalog._entry(tbl)["version"])
        return None

    def _pin_for_root(self, root: str) -> int | None:
        """The catalog PIN for whichever registered catalog table owns
        ``root``, or None for plain tables — THE rule for how far any
        derived structure (index, materialized view) may advance."""
        for tbl in self._catalog_names:
            if self._tables[tbl].root == root:
                return self._catalog_pin(tbl)
        return None

    def _index_pin(self, idx) -> int | None:
        """The version an index may advance to: catalog-managed bases
        stop at the catalog PIN (an unpublished/aborted head must never
        leak into query results); plain tables follow the raw head."""
        return self._pin_for_root(idx.base.root)

    def _sidx_pin(self, name: str) -> int | None:
        return self._index_pin(self._sidx[name])

    def _unregister_catalog_index(self, name: str, kind: str) -> None:
        if self._catalog is None:
            return
        e = self._catalog.indexes().get(name)
        if e is not None and e.get("kind") == kind:
            # kind-checked: never remove a same-named entry of the
            # other kind (the catalog refuses such collisions for
            # entries IT registers, but a foreign registry edit or an
            # older catalog must not be clobbered by the wrong DROP)
            self._catalog.unregister_index(name)

    def _create_search_index(self, m: re.Match) -> DataFrame:
        """``CREATE SEARCH INDEX i ON t (text_col) [LOCATION '...']`` —
        builds the CDF-maintained inverted index (operators/
        searchindex.py) over a registered lake table's snapshot (the
        catalog PIN when the table is catalog-managed — same aborted-
        head rule as SHALLOW CLONE); ``ATTACH SEARCH INDEX`` reopens a
        persisted one in a new session (LOCATION required);
        ``REFRESH SEARCH INDEX i`` advances it O(changed docs) and
        ``SEARCH_INDEX('i', 'terms', k)`` queries it inline. The
        Spark-native replacement for the reference's external
        Elasticsearch handoff, as facade text."""
        from openverse_catalog_spark.operators.searchindex import (
            SearchIndex,
        )

        verb, name, tbl, col, location = m.groups()
        attach = verb.upper() == "ATTACH"
        if name in self._sidx or name in self._vidx:
            # one namespace across both kinds: the catalog registry is
            # keyed by name alone, and a cross-kind collision would
            # clobber the other index's maintenance registration
            raise ValueError(f"index {name!r} already exists")
        if tbl not in self._tables:
            raise ValueError(
                f"{tbl!r} is not a registered lake table "
                f"(have: {sorted(self._tables)})"
            )
        self._refuse_create_in_txn()
        base = self._tables[tbl]
        if len(base.keys) != 1:
            raise ValueError(
                "search indexes need a single-column document key; "
                f"{tbl!r} is keyed {base.keys}"
            )
        pin = self._catalog_pin(tbl)
        # validate against the snapshot that will actually be indexed
        # (the pin; read(None) is the head, so one call covers both):
        # an orphaned raw head may have drifted schema
        if col not in base.read(pin).columns:
            raise ValueError(f"{tbl!r} has no column {col!r}")
        if attach:
            if not location:
                raise ValueError(
                    "ATTACH SEARCH INDEX needs LOCATION '<dir>'"
                )
            idx = SearchIndex.open(
                self.spark, location, base,
                id_col=base.keys[0], text_col=col,
            )
        else:
            root = self._resolve_new_root(
                name, location, "CREATE SEARCH INDEX"
            )
            try:
                idx = SearchIndex.create(
                    self.spark, root, base,
                    id_col=base.keys[0], text_col=col, version=pin,
                )
            except Exception:
                # a failed build must not leave a husk directory that
                # blocks the retry via the exists guard
                import shutil

                shutil.rmtree(root, ignore_errors=True)
                raise
        if tbl in self._catalog_names:
            # the catalog's unattended tick (MAINTAIN CATALOG) keeps
            # registered indexes fresh and its vacuum protects the
            # unapplied feed span. Register BEFORE exposing: a
            # registration refusal (name collision in the shared
            # catalog) must not leave this facade serving an orphan the
            # catalog will never maintain — and a CREATE's husk
            # directory must not survive the failure
            try:
                self._catalog.register_index(
                    name, "search", idx.root, tbl,
                    {"id": base.keys[0], "text": col},
                )
            except Exception:
                if not attach:
                    import shutil

                    shutil.rmtree(idx.root, ignore_errors=True)
                raise
        self._sidx[name] = idx
        return self._result_df(
            [(name, tbl, idx.applied_version)],
            "index string, table string, applied long",
        )

    def _create_vector_index(self, m: re.Match) -> DataFrame:
        """``CREATE VECTOR INDEX i ON t (vec_col) [CENTROID MOD n]
        [PQ m] [LOCATION '...']`` — builds the CDF-maintained IVF index
        (``PQ m`` = product-quantized lists: m ordinal codes per vector
        instead of raw floats, ADC + exact shortlist re-rank at query
        time — the billion-vector layout)
        (operators/vectorindex.py) over a registered lake table's
        snapshot (the catalog PIN when the table is catalog-managed —
        same aborted-head rule as SEARCH INDEX); ``ATTACH VECTOR
        INDEX`` reopens a persisted one (LOCATION required); ``REFRESH
        VECTOR INDEX i`` advances it O(changed vectors) and
        ``VECTOR_SEARCH('i', '<floats>', k[, nprobe])`` queries it
        inline. The ANN twin of the SEARCH INDEX family — every
        persisted artifact in the engine is SQL-addressable."""
        from pyspark.sql import types as T

        from openverse_catalog_spark.operators.vectorindex import (
            VectorIndex,
        )

        (verb, name, tbl, col, mod, pq, pq_res, learned_kw,
         learned_n, location) = m.groups()
        attach = verb.upper() == "ATTACH"
        if name in self._sidx or name in self._vidx:
            raise ValueError(f"index {name!r} already exists")
        if tbl not in self._tables:
            raise ValueError(
                f"{tbl!r} is not a registered lake table "
                f"(have: {sorted(self._tables)})"
            )
        self._refuse_create_in_txn()
        base = self._tables[tbl]
        if len(base.keys) != 1:
            raise ValueError(
                "vector indexes need a single-column vector key; "
                f"{tbl!r} is keyed {base.keys}"
            )
        pin = self._catalog_pin(tbl)
        snap = base.read(pin)
        if col not in snap.columns:
            raise ValueError(f"{tbl!r} has no column {col!r}")
        if not isinstance(snap.schema[col].dataType, T.ArrayType):
            raise ValueError(
                f"{tbl}.{col} is {snap.schema[col].dataType.simpleString()}"
                ", not an array vector column"
            )
        if attach:
            if not location:
                raise ValueError(
                    "ATTACH VECTOR INDEX needs LOCATION '<dir>'"
                )
            if mod or pq or pq_res or learned_kw:
                raise ValueError(
                    "ATTACH VECTOR INDEX reopens a persisted index; "
                    "CENTROID MOD / PQ / LEARNED are fixed at CREATE"
                )
            idx = VectorIndex.open(
                self.spark, location, base,
                id_col=base.keys[0], vec_col=col,
            )
        else:
            root = self._resolve_new_root(
                name, location, "CREATE VECTOR INDEX"
            )
            try:
                idx = VectorIndex.create(
                    self.spark, root, base,
                    id_col=base.keys[0], vec_col=col,
                    centroid_mod=int(mod) if mod else 40,
                    pq_m=int(pq) if pq else None,
                    pq_residual=bool(pq_res),
                    version=pin,
                    learned=(
                        int(learned_n) if learned_n
                        else (2 if learned_kw else 0)
                    ),
                )
            except Exception:
                # a failed build must not leave a husk directory that
                # blocks the retry via the exists guard
                import shutil

                shutil.rmtree(root, ignore_errors=True)
                raise
        if tbl in self._catalog_names:
            try:
                self._catalog.register_index(
                    name, "vector", idx.root, tbl,
                    {"id": base.keys[0], "vector": col},
                )
            except Exception:
                if not attach:
                    import shutil

                    shutil.rmtree(idx.root, ignore_errors=True)
                raise
        self._vidx[name] = idx
        return self._result_df(
            [(name, tbl, idx.applied_version)],
            "index string, table string, applied long",
        )

    def _show_create(self, name: str) -> DataFrame:
        """SHOW CREATE TABLE: one (table, ddl) row whose ddl text is an
        EXECUTABLE reproduction script — a CREATE TABLE statement in
        this facade's own empty-table dialect (declared columns,
        PRIMARY KEY, PARTITIONED BY transforms, LOCATION), followed by
        one ALTER TABLE ... ADD CONSTRAINT per CHECK constraint,
        ';'-joined. Feeding each statement back through sql() (with a
        fresh name/location) recreates an equivalent empty table —
        pinned by test. Everything reads from cached manifest state;
        no data is scanned."""
        t = self._tables[name]
        schema = t.read().schema
        cols = ",\n  ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in schema.fields
        )
        parts = []
        for s in t.partition_spec:
            if s["transform"] == "identity":
                parts.append(f"identity({s['col']})")
            elif s.get("arg") is not None:
                parts.append(f"{s['transform']}({s['arg']}, {s['col']})")
            else:
                parts.append(f"{s['transform']}({s['col']})")
        ddl = (
            f"CREATE TABLE {name} (\n  {cols}\n) "
            f"PRIMARY KEY ({', '.join(t.keys)})"
        )
        if parts:
            ddl += f"\nPARTITIONED BY ({', '.join(parts)})"
        ddl += f"\nLOCATION '{t.root}'"
        stmts = [ddl]
        for cname in sorted(t.constraints):
            stmts.append(
                f"ALTER TABLE {name} ADD CONSTRAINT {cname} "
                f"CHECK ({t.constraints[cname]})"
            )
        return self._result_df(
            [(name, ";\n".join(stmts))], "table string, ddl string"
        )

    def _merge_into(self, m: re.Match) -> DataFrame:
        """``MERGE INTO t [AS a] USING (<query>)|<view> [AS b]
        ON a.k = b.k [AND ...]`` followed by WHEN clauses. Two forms:

        The exact Delta shorthand ``WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *`` (no conditions) runs the
        table's registered ColumnSpec upsert — per-column merge
        strategies, exactly as INSERT INTO.

        Any other clause combination is the general conditional MERGE
        (``CowTable.merge_when``): ``WHEN MATCHED [AND c] THEN DELETE``,
        ``WHEN MATCHED [AND c] THEN UPDATE SET col = expr, ...`` (or
        ``SET *``), ``WHEN NOT MATCHED [AND c] THEN INSERT *`` —
        conditions and SET expressions may reference both aliases.
        Delete must precede update (that is the evaluation order
        merge_when implements); update-before-delete raises rather
        than silently reordering. The ON clause must equate the
        table's merge keys in every form — anything else would
        silently change upsert semantics, so it raises instead."""
        name = m.group(1)
        t_alias = (m.group(2) or name).lower()
        subquery, view, s_alias = m.group(3), m.group(4), m.group(5)
        on_text, when_tail = m.group(6), m.group(7)
        s_alias = (s_alias or view or "").lower()
        if not s_alias:
            raise ValueError("MERGE INTO ... USING (subquery) needs an alias")
        table = self._tables[name]
        want = set(table.keys)
        got = set()
        for clause in re.split(r"\s+AND\s+", on_text, flags=re.IGNORECASE):
            eq = _ON_EQ.match(clause)
            if not eq:
                raise ValueError(
                    f"MERGE ON clause must be key equalities, got "
                    f"{clause.strip()!r}"
                )
            a1, c1, a2, c2 = eq.groups()
            sides = {a1.lower(): c1, a2.lower(): c2}
            if set(sides) != {t_alias, s_alias} or (
                sides[t_alias] != sides[s_alias]
            ):
                raise ValueError(
                    f"MERGE ON clause must equate target and source on "
                    f"the same column, got {clause.strip()!r}"
                )
            got.add(sides[t_alias])
        if got != want:
            raise ValueError(
                f"MERGE INTO {name} must join on exactly its merge keys "
                f"{sorted(want)}, got {sorted(got)}"
            )
        batch = self._run_rewritten(
            subquery if subquery else f"SELECT * FROM {view}"
        )

        # -- WHEN clause parsing -------------------------------------------
        parts = [
            p.strip() for p in _WHEN_SPLIT.split(when_tail) if p.strip()
        ]
        matched_clauses: list[tuple[str | None, str | None]] = []
        insert_clause: tuple[bool, str | None] | None = None
        for p in parts:
            mm = _WHEN_MATCHED.match(p)
            if mm:
                cond, is_del, set_text = mm.groups()
                matched_clauses.append(
                    ("DELETE", cond) if is_del else (set_text, cond)
                )
                continue
            mn = _WHEN_NOT_MATCHED.match(p)
            if mn:
                if insert_clause is not None:
                    raise ValueError("duplicate WHEN NOT MATCHED clause")
                insert_clause = (True, mn.group(1))
                continue
            raise ValueError(f"unparseable MERGE clause: {p[:80]!r}")

        legacy = (
            len(matched_clauses) == 1
            and matched_clauses[0] == ("*", None)
            and insert_clause == (True, None)
        )
        if legacy:
            cols = self._columns.get(name)
            if cols is None:
                raise ValueError(
                    f"MERGE INTO {name} needs the table's ColumnSpec "
                    "list: register_table(name, table, columns=[...])"
                )
            target, finalize = self._dml_table(name)
            res = target.merge(batch, cols)
            finalize()
            return self._summary(res)

        # general conditional merge -> merge_when
        delete_cond = update_set = update_cond = None
        for action, cond in matched_clauses:
            if action == "DELETE":
                if delete_cond is not None:
                    raise ValueError("duplicate WHEN MATCHED ... DELETE")
                if update_set is not None:
                    raise ValueError(
                        "WHEN MATCHED ... UPDATE before DELETE: merge "
                        "evaluates DELETE first — put the DELETE clause "
                        "first (or fold its condition into the update)"
                    )
                delete_cond = cond if cond is not None else "true"
            else:
                if update_set is not None:
                    raise ValueError("duplicate WHEN MATCHED ... UPDATE")
                update_set = (
                    "*" if action.strip() == "*"
                    else dict(_split_assignments(action))
                )
                update_cond = cond
        target, finalize = self._dml_table(name)
        res = target.merge_when(
            batch,
            update_set=update_set,
            update_cond=update_cond,
            delete_cond=delete_cond,
            insert=insert_clause is not None,
            insert_cond=insert_clause[1] if insert_clause else None,
            target_alias=t_alias,
            source_alias=s_alias,
        )
        finalize()
        return self._summary(res)

    def _create_mv(self, name: str, select_text: str) -> DataFrame:
        """``CREATE MATERIALIZED VIEW v AS SELECT <group cols + aggs>
        FROM <lake table> GROUP BY <group cols>`` — the reference's
        materialized-view DDL (``popularity/sql.py``), backed by the
        INCREMENTAL maintenance operator: the view builds once and
        every ``REFRESH MATERIALIZED VIEW v`` thereafter advances it
        from the base table's change feed in O(churn), where the
        reference re-aggregates the full table. Supported aggregates:
        count(*) and sum/avg/min/max(col), each requiring ``AS name``."""
        from openverse_catalog_spark.operators.matview import (
            AggSpec,
            MaterializedView,
        )

        jam = _MV_JOIN_AGG.match(select_text)
        if jam:
            return self._create_join_agg_mv(name, jam)
        jm = _MV_JOIN.match(select_text)
        if jm:
            return self._create_join_mv(name, jm)
        m = _MV_SELECT.match(select_text)
        if not m:
            raise ValueError(
                "CREATE MATERIALIZED VIEW body must be SELECT <items> "
                "FROM <lake table> GROUP BY <cols>, SELECT * FROM "
                "<lake> [LEFT] JOIN <lake> ON ..., or SELECT <items> "
                "FROM <lake> [LEFT] JOIN <lake> ON ... GROUP BY <cols>, "
                f"got {select_text!r}"
            )
        items_text, base_name, group_text = m.groups()
        if base_name not in self._tables:
            raise ValueError(
                f"materialized views need a registered lake table base; "
                f"{base_name!r} is not one (have: {sorted(self._tables)})"
            )
        group_cols = [c.strip() for c in group_text.split(",")]
        aggs = self._parse_mv_items(items_text, group_cols)
        base = self._tables[base_name]
        pin = self._pin_for_root(base.root)
        if pin is not None:
            # a catalog base: build at the PIN (the raw head can carry
            # unpublished txn writes — baking them in would both serve
            # rolled-back rows and strand the view past every later
            # capped REFRESH), and never inside an open transaction
            self._refuse_create_in_txn()
        mv = MaterializedView(
            self.spark, base, f"{base.root}_mv_{name}", group_cols, aggs
        )
        import shutil

        shutil.rmtree(mv.root, ignore_errors=True)
        mv.build(to_version=pin)
        self._mvs[name] = mv
        mv.read().createOrReplaceTempView(name)
        return self._result_df(
            [(name, base_name)], "view string, base string"
        )

    def _parse_mv_items(self, items_text: str, group_cols: list) -> list:
        """The MV SELECT-list grammar shared by the plain and join+agg
        forms: group columns pass through, everything else must be
        count(*)/sum/avg/min/max(col) AS name."""
        from openverse_catalog_spark.operators.matview import AggSpec

        aggs = []
        for item in (i.strip() for i in _split_top_level(items_text)):
            if item in group_cols:
                continue
            am = _MV_AGG_ITEM.match(item)
            if not am:
                raise ValueError(
                    f"unsupported MV select item {item!r}: use a GROUP BY "
                    "column or count(*)/sum/avg/min/max(col) AS name"
                )
            kind, col, out = am.groups()
            kind = kind.lower()
            aggs.append(
                AggSpec(out, kind, None if col == "*" else col)
            )
        if not aggs:
            raise ValueError("materialized view needs at least one aggregate")
        return aggs

    def _parse_join_on(
        self, on_text: str, lname: str, rname: str
    ) -> list[str]:
        """ON-clause grammar shared by the join MV forms: conjunctions
        of same-named column equalities between the two tables."""
        on_cols = []
        for clause in re.split(r"\s+AND\s+", on_text, flags=re.IGNORECASE):
            eq = _ON_EQ.match(clause)
            if not eq:
                raise ValueError(
                    f"join MV ON clause must be column equalities, got "
                    f"{clause.strip()!r}"
                )
            a1, c1, a2, c2 = eq.groups()
            sides = {a1.lower(): c1, a2.lower(): c2}
            if set(sides) != {lname.lower(), rname.lower()} or (
                sides[lname.lower()] != sides[rname.lower()]
            ):
                raise ValueError(
                    "join MV ON clause must equate the two tables on "
                    f"the SAME column name, got {clause.strip()!r}"
                )
            on_cols.append(sides[lname.lower()])
        return on_cols

    def _create_join_agg_mv(self, name: str, jam: re.Match) -> DataFrame:
        """``CREATE MATERIALIZED VIEW v AS SELECT <group cols + aggs>
        FROM l [LEFT] JOIN r ON l.c = r.c [AND ...] GROUP BY <cols>``
        — the reference's ACTUAL materialized-view shape (image_view:
        join + aggregation refreshed whole, ``popularity/sql.py:
        232-283``), backed by JoinAggMaterializedView: REFRESH advances
        the join stage by dirty-key recompute from BOTH feeds and the
        aggregate stage by delta apply over the join table's own
        change feed — O(churn) end to end."""
        from openverse_catalog_spark.operators.matview import (
            JoinAggMaterializedView,
        )

        items_text, lname, left_kw, rname, on_text, group_text = jam.groups()
        for t in (lname, rname):
            if t not in self._tables:
                raise ValueError(
                    f"join materialized views need registered lake "
                    f"tables; {t!r} is not one (have: "
                    f"{sorted(self._tables)})"
                )
        on_cols = self._parse_join_on(on_text, lname, rname)
        group_cols = [c.strip() for c in group_text.split(",")]
        aggs = self._parse_mv_items(items_text, group_cols)
        left, right = self._tables[lname], self._tables[rname]
        if left_kw:
            # LEFT JOIN: a right-side delete NULLs right-sourced columns
            # in the join table's change feed, and the aggregate stage's
            # non-NULL group-key contract can then break at refresh time
            # (guarded there too, but a CREATE-time rejection beats a
            # refresh-time failure). Join columns are shared; any other
            # group column must come from the LEFT schema.
            lcols = {f.name for f in left.read().schema.fields}
            bad = [
                c for c in group_cols
                if c not in on_cols and c not in lcols
            ]
            if bad:
                raise ValueError(
                    f"LEFT JOIN materialized view {name!r} groups by "
                    f"right-sourced column(s) {bad}: a right-side "
                    "delete would NULL them in the change feed. Group "
                    "by left-side columns, use an inner join, or "
                    "coalesce upstream."
                )
        lpin = self._pin_for_root(left.root)
        rpin = self._pin_for_root(right.root)
        if lpin is not None or rpin is not None:
            self._refuse_create_in_txn()
        mv = JoinAggMaterializedView(
            self.spark, left, right, f"{left.root}_jamv_{name}",
            on=on_cols, group_cols=group_cols, aggs=aggs,
            how="left" if left_kw else "inner",
        )
        import shutil

        shutil.rmtree(mv.root, ignore_errors=True)
        mv.build(to_left=lpin, to_right=rpin)
        self._mvs[name] = mv
        mv.read().createOrReplaceTempView(name)
        return self._result_df(
            [(name, lname, rname)], "view string, left string, right string"
        )

    def _create_join_mv(self, name: str, jm: re.Match) -> DataFrame:
        """``CREATE MATERIALIZED VIEW v AS SELECT * FROM l [LEFT] JOIN
        r ON l.c = r.c [AND ...]`` — the materialized equi-join
        (JoinMaterializedView): built once, REFRESH advances it from
        BOTH base tables' change feeds by dirty-key partial recompute.
        Both sides must be registered lake tables; the ON clause must
        equate same-named columns (the join-column list)."""
        from openverse_catalog_spark.operators.matview import (
            JoinMaterializedView,
        )

        lname, left_kw, rname, on_text = jm.groups()
        for t in (lname, rname):
            if t not in self._tables:
                raise ValueError(
                    f"join materialized views need registered lake "
                    f"tables; {t!r} is not one (have: "
                    f"{sorted(self._tables)})"
                )
        on_cols = self._parse_join_on(on_text, lname, rname)
        left, right = self._tables[lname], self._tables[rname]
        lpin = self._pin_for_root(left.root)
        rpin = self._pin_for_root(right.root)
        if lpin is not None or rpin is not None:
            self._refuse_create_in_txn()
        mv = JoinMaterializedView(
            self.spark, left, right, f"{left.root}_jmv_{name}",
            on=on_cols, how="left" if left_kw else "inner",
        )
        import shutil

        shutil.rmtree(mv.root, ignore_errors=True)
        mv.build(to_left=lpin, to_right=rpin)
        self._mvs[name] = mv
        mv.read().createOrReplaceTempView(name)
        return self._result_df(
            [(name, lname, rname)], "view string, left string, right string"
        )

    def sql(self, text: str) -> DataFrame:
        """Run SQL text: refresh head views, rewrite lake constructs,
        hand reads to Catalyst and DML to the lake table's commit
        protocol. DML returns a one-row (version, rows) summary frame."""
        m = _CLONE_TABLE.match(text)
        if m and m.group(2) in self._tables:
            return self._clone_table(m)
        m = _CREATE_TABLE.match(text)
        if m:
            return self._create_table(m)
        m = _CREATE_TABLE_EMPTY.match(text)
        if m:
            return self._create_table_empty(m)
        m = _DROP_TABLE.match(text)
        if m and m.group(1) in self._tables:
            return self._drop_table(m.group(1))
        m = _RESTORE_TABLE.match(text)
        if m and m.group(1) in self._tables:
            name = m.group(1)
            if m.group(2) is not None:
                v = int(m.group(2))
            else:
                # TIMESTAMP AS OF: newest commit at or before the epoch
                v = self._tables[name].version_as_of(float(m.group(3)))
            target, finalize = self._dml_table(name)
            res = target.restore(v)
            finalize()
            self._refresh_head(name)
            return self._result_df(
                [(res["version"], res["restored_from"])],
                "version long, restored_from long",
            )
        m = _TRUNCATE.match(text)
        if m and m.group(1) in self._tables:
            # metadata-only empty commit; schema/properties retained and
            # the pre-truncate snapshot stays RESTORE-able until vacuum
            name = m.group(1)
            target, finalize = self._dml_table(name)
            res = target.truncate()
            finalize()
            self._refresh_head(name)
            return self._result_df(
                [(res["version"], res["rows_deleted"])],
                "version long, rows_deleted long",
            )
        m = _SHOW_CREATE.match(text)
        if m and m.group(1) in self._tables:
            return self._show_create(m.group(1))
        m = _CREATE_SIDX.match(text)
        if m:
            return self._create_search_index(m)
        m = _REFRESH_SIDX.match(text)
        if m and m.group(1) in self._sidx:
            pin = self._sidx_pin(m.group(1))
            if self._txn is not None and pin is not None:
                # a CATALOG base's txn writes advance the raw version
                # chain before COMMIT publishes them; refreshing here
                # would leak uncommitted postings that survive
                # ROLLBACK. Plain-table bases commit immediately even
                # inside a txn — nothing uncommitted exists to leak
                raise ValueError(
                    "REFRESH SEARCH INDEX on a catalog-managed base "
                    "inside an explicit transaction is not supported; "
                    "COMMIT or ROLLBACK first"
                )
            r = self._sidx[m.group(1)].refresh(to_version=pin)
            return self._result_df(
                [(int(r["applied"]), bool(r["refreshed"]),
                  bool(r.get("resync", False)))],
                "applied long, refreshed boolean, resync boolean",
            )
        m = _DROP_SIDX.match(text)
        if m and m.group(1) in self._sidx:
            import shutil

            if self._txn is not None:
                # rmtree is the one thing ROLLBACK can never undo
                raise ValueError(
                    "DROP SEARCH INDEX inside an explicit transaction "
                    "is not supported; COMMIT or ROLLBACK first"
                )
            name = m.group(1)
            idx = self._sidx.pop(name)
            self._unregister_catalog_index(name, "search")
            shutil.rmtree(idx.root, ignore_errors=True)
            return self._result_df(
                [(name,)], "dropped string"
            )
        m = _CREATE_VIDX.match(text)
        if m:
            return self._create_vector_index(m)
        m = _REFRESH_VIDX.match(text)
        if m and m.group(1) in self._vidx:
            pin = self._index_pin(self._vidx[m.group(1)])
            if self._txn is not None and pin is not None:
                # same rule as REFRESH SEARCH INDEX: a catalog base's
                # txn writes advance the raw chain before COMMIT
                # publishes them; refreshing here would index
                # uncommitted vectors that survive ROLLBACK
                raise ValueError(
                    "REFRESH VECTOR INDEX on a catalog-managed base "
                    "inside an explicit transaction is not supported; "
                    "COMMIT or ROLLBACK first"
                )
            r = self._vidx[m.group(1)].refresh(to_version=pin)
            return self._result_df(
                [(int(r["applied"]), bool(r["refreshed"]),
                  bool(r.get("resync", False)))],
                "applied long, refreshed boolean, resync boolean",
            )
        m = _REINDEX_VIDX.match(text)
        if m and m.group(1) in self._vidx:
            # heal list skew: re-sample centroids at the current corpus
            # and rebuild the lists as one atomic epoch swap (queries
            # keep serving the old epoch until the re-point); CENTROID
            # MOD also re-densifies the sample as the corpus grows;
            # LEARNED [n] refines the sample with n (default 2) Lloyd
            # rounds of spherical k-means before the lists build —
            # sampled centroids only ever sit ON corpus points, so a
            # hot region keeps as many centroids as it had sample hits;
            # the learned update moves them toward the region's mass
            if self._txn is not None:
                raise ValueError(
                    "REINDEX VECTOR INDEX inside an explicit "
                    "transaction is not supported; COMMIT or ROLLBACK "
                    "first"
                )
            mod = m.group(2)
            learned = (
                int(m.group(4)) if m.group(4)
                else (2 if m.group(3) else 0)
            )
            r = self._vidx[m.group(1)].recluster(
                centroid_mod=int(mod) if mod else None,
                learned=learned,
            )
            return self._result_df(
                [(int(r["epoch"]), int(r["centroids"]),
                  int(r["applied"]), int(r["learned_rounds"]))],
                "epoch long, centroids long, applied long, "
                "learned_rounds long",
            )
        m = _DROP_VIDX.match(text)
        if m and m.group(1) in self._vidx:
            import shutil

            if self._txn is not None:
                raise ValueError(
                    "DROP VECTOR INDEX inside an explicit transaction "
                    "is not supported; COMMIT or ROLLBACK first"
                )
            name = m.group(1)
            idx = self._vidx.pop(name)
            self._unregister_catalog_index(name, "vector")
            shutil.rmtree(idx.root, ignore_errors=True)
            return self._result_df(
                [(name,)], "dropped string"
            )
        if _BEGIN_TXN.match(text):
            if self._catalog is None:
                raise ValueError("BEGIN TRANSACTION needs attach_catalog()")
            if self._txn is not None:
                raise ValueError("a transaction is already open")
            self._txn = self._catalog.transaction().__enter__()
            self._head_version.clear()
            return self._result_df(
                [(self._txn._snap["version"],)], "catalog_version long"
            )
        if _COMMIT_TXN.match(text):
            if self._txn is None:
                raise ValueError("COMMIT without an open transaction")
            txn, self._txn = self._txn, None
            try:
                txn.__exit__(None, None, None)
            finally:
                self._head_version.clear()
            return self._result_df(
                [(self._catalog.version,)], "catalog_version long"
            )
        if _ROLLBACK_TXN.match(text):
            if self._txn is None:
                raise ValueError("ROLLBACK without an open transaction")
            self._txn = None
            rep = self._catalog.recover()
            self._head_version.clear()
            return self._result_df(
                [(len(rep["rolled_back"]),)], "tables_rolled_back long"
            )
        for name in self._tables:
            self._refresh_head(name)
        m = _EXPLAIN.match(text)
        if m:
            return self._explain(
                m.group(2), (m.group(1) or "formatted").lower()
            )
        m = _CREATE_MV.match(text)
        if m:
            return self._create_mv(m.group(1), m.group(2))
        m = _REFRESH_MV.match(text)
        if m and m.group(1) in self._mvs:
            mv = self._mvs[m.group(1)]
            # catalog-managed bases cap the refresh at the PIN: a raw
            # head can carry a transaction's unpublished (or aborted)
            # versions, and an uncapped refresh would aggregate them
            # into the view — the same rule REFRESH SEARCH/VECTOR
            # INDEX enforces. Inside an explicit txn such a refresh is
            # refused outright (uncommitted rows would survive
            # ROLLBACK in the view).
            if hasattr(mv, "join_mv"):
                pins = {
                    "to_left": self._pin_for_root(mv.join_mv.left.root),
                    "to_right": self._pin_for_root(mv.join_mv.right.root),
                }
            elif hasattr(mv, "left"):
                pins = {
                    "to_left": self._pin_for_root(mv.left.root),
                    "to_right": self._pin_for_root(mv.right.root),
                }
            else:
                pins = {"to_version": self._pin_for_root(mv.base.root)}
            if self._txn is not None and any(
                v is not None for v in pins.values()
            ):
                raise ValueError(
                    "REFRESH MATERIALIZED VIEW on a catalog-managed "
                    "base inside an explicit transaction is not "
                    "supported; COMMIT or ROLLBACK first"
                )
            res = mv.refresh(**pins)
            mv.read().createOrReplaceTempView(m.group(1))
            if "join" in res and "agg" in res:  # composed join+agg MV
                return self._result_df(
                    [(res["join"]["left_version"],
                      res["join"]["right_version"],
                      bool(res["join"]["refreshed"]
                           or res["agg"]["refreshed"]))],
                    "left_version long, right_version long, "
                    "refreshed boolean",
                )
            if "base_version" in res:
                return self._result_df(
                    [(res["base_version"], bool(res["refreshed"]))],
                    "base_version long, refreshed boolean",
                )
            return self._result_df(
                [(res["left_version"], res["right_version"],
                  bool(res["refreshed"]))],
                "left_version long, right_version long, refreshed boolean",
            )
        if _SHOW_IDX.match(text):
            # one row per registered index (search + vector): where it
            # lives, the base version it reflects, how many base
            # commits behind the pin/head it is — the operational view
            # the reference reads from its ES cluster + Airflow state —
            # and the BALANCE telemetry for BOTH families — vector:
            # max/median inverted-LIST size + skew (frozen centroids
            # under drift grow hot lists; probe cost follows list size;
            # REINDEX heals it), search: max/median posting DF + skew
            # (BM25/phrase cost tracks posting sizes — the honest
            # inverted-index bound; not healable, but it must be
            # visible before it is a slow query)
            rows = []
            for kind, reg in (("search", self._sidx),
                              ("vector", self._vidx)):
                for n in sorted(reg):
                    idx = reg[n]
                    applied = idx.applied_version
                    pin = self._index_pin(idx)
                    head = pin if pin is not None else idx.base.version
                    if kind == "vector":
                        bal = idx.list_stats()
                    else:
                        ps = idx.posting_stats()
                        bal = {"max_list": ps["max_df"],
                               "median_list": ps["median_df"],
                               "skew": ps["skew"]}
                    if kind == "vector":
                        mode = "ivf"
                        if idx.pq_m:
                            mode = f"ivf-pq{idx.pq_m}" + (
                                "-residual" if idx.pq_residual else ""
                            )
                        epoch = idx.epoch
                    else:
                        mode, epoch = "inverted", None
                    rows.append((
                        n, kind, mode, idx.root, applied,
                        max(0, int(head) - int(applied)),
                        epoch,
                        bal["max_list"] if bal else None,
                        float(bal["median_list"]) if bal else None,
                        round(bal["skew"], 3) if bal else None,
                    ))
            schema = ("index string, kind string, mode string, "
                      "location string, "
                      "applied long, staleness long, epoch long, "
                      "max_list long, "
                      "median_list double, skew double")
            return self._result_df(
                rows if rows else [], schema
            )
        if _SHOW_MVS.match(text):
            rows = []
            for n in sorted(self._mvs):
                mv = self._mvs[n]
                kind = {
                    "MaterializedView": "aggregate",
                    "JoinMaterializedView": "join",
                    "JoinAggMaterializedView": "join_agg",
                }.get(type(mv).__name__, type(mv).__name__)
                applied, lag = _mv_staleness(mv)
                rows.append((n, kind, mv.root, applied, lag))
            schema = (
                "view string, kind string, location string, "
                "applied string, staleness long"
            )
            return self._result_df(
                rows if rows else [], schema
            )
        m = _DROP_MV.match(text)
        if m and m.group(1) in self._mvs:
            import shutil

            name = m.group(1)
            mv = self._mvs.pop(name)
            self.spark.catalog.dropTempView(name)
            shutil.rmtree(mv.root, ignore_errors=True)  # storage too,
            # exactly Postgres DROP MATERIALIZED VIEW semantics
            return self._result_df(
                [(name,)], "dropped string"
            )
        m = _INSERT_INTO.match(text)
        if m and m.group(1) in self._tables:
            name, query = m.group(1), m.group(2)
            cols = self._columns.get(name)
            if cols is None:
                raise ValueError(
                    f"INSERT INTO {name} needs the table's ColumnSpec "
                    "list: register_table(name, table, columns=[...])"
                )
            batch = self._run_rewritten(query)
            target, finalize = self._dml_table(name)
            res = target.merge(batch, cols)
            finalize()
            return self._summary(res)
        m = _MERGE_INTO.match(text)
        if m and m.group(1) in self._tables:
            return self._merge_into(m)
        m = _UPDATE.match(text)
        if m and m.group(1) in self._tables:
            name, sets, where = m.group(1), m.group(2), m.group(3)
            cond = F.expr(where) if where else F.lit(True)
            exprs = {
                col: F.expr(e) for col, e in _split_assignments(sets)
            }
            target, finalize = self._dml_table(name)
            res = target.update(cond, exprs)
            finalize()
            return self._summary(res)
        m = _DELETE.match(text)
        if m and m.group(1) in self._tables:
            name, where = m.group(1), m.group(2)
            cond = F.expr(where) if where else F.lit(True)
            target, finalize = self._dml_table(name)
            res = target.delete(cond)
            finalize()
            return self._summary(res)
        m = _COPY_TO.match(text)
        if m:
            query, dest, fmt = m.group(1), m.group(2), m.group(3).upper()
            df = self._run_rewritten(query)
            if fmt == "PARQUET":
                df.write.mode("overwrite").parquet(dest)
            else:
                # the reference's TSV load format (tab sep, \N nulls,
                # no header) so sources/tsv.py's tolerant reader — and
                # Postgres COPY — reload it directly
                out = [F.col(c).cast("string").alias(c) for c in df.columns]
                (
                    df.select(out).write.mode("overwrite")
                    .option("sep", "\t").option("nullValue", "\\N")
                    .option("emptyValue", "").option("escape", "")
                    .option("quote", "").csv(dest)
                )
            n = self.spark.read.parquet(dest).count() if fmt == "PARQUET" \
                else self.spark.read.option("sep", "\t").csv(dest).count()
            return self._result_df(
                [(dest, fmt, n)], "path string, format string, rows long"
            )
        if _SHOW_TABLES.match(text):
            rows = []
            for name in sorted(self._tables):
                kind = (
                    "catalog" if name in self._catalog_names else "lake"
                )
                pinned = self._head_version.get(name)
                rows.append((name, kind,
                             -1 if pinned is None else pinned[0],
                             self._tables[name].root))
            return self._result_df(
                rows, "table string, kind string, version long, "
                      "location string",
            )
        m = _ANALYZE.match(text)
        if m and m.group(1) in self._tables:
            t = self._tables[m.group(1)]
            # INCREMENTAL advances stats from the change feed in
            # O(churn) (seeding a full scan only the first time or
            # after vacuum); bare ANALYZE rescans
            doc = t.analyze_incremental() if m.group(2) else t.analyze()
            rows = [
                (c, st["ndv"], st["nulls"], st["min"], st["max"],
                 doc["rows"])
                for c, st in doc["columns"].items()
            ]
            return self._result_df(
                rows,
                "column string, ndv long, nulls long, min_val string, "
                "max_val string, rows long",
            )
        m = _DESCRIBE_HISTORY.match(text)
        if m and m.group(1) in self._tables:
            hist = self._tables[m.group(1)].history()
            return self._result_df(
                [(h["version"], h["operation"], h["rows"]) for h in hist],
                "version long, operation string, rows long",
            )
        m = _DESCRIBE_DETAIL.match(text)
        if m and m.group(1) in self._tables:
            return self._describe_detail(m.group(1))
        m = _OPTIMIZE.match(text)
        if m and m.group(1) in self._tables:
            zorder = (
                [c.strip() for c in m.group(2).split(",")]
                if m.group(2)
                else None
            )
            # catalog tables OPTIMIZE through a (possibly implicit)
            # transaction: a bare compact would advance the head
            # without a catalog commit — an unpublished version
            # recover() rolls back as a torn transaction
            target, finalize = self._dml_table(m.group(1))
            res = target.compact(
                zorder_by=zorder,
                zorder_incremental=bool(m.group(3)),
            )
            finalize()
            return self._summary(res)
        m = _APPLY_CHANGES.match(text)
        if m and m.group(1) in self._tables:
            # DLT's APPLY CHANGES INTO: sequenced upsert/delete events
            # applied as ONE commit (streaming/incremental.apply_changes
            # — latest-wins per key in the batch, stored-sequence fence
            # across statements)
            from openverse_catalog_spark.streaming.incremental import (
                apply_changes,
            )

            name, subquery, view, seq_col, op_col, retention = m.groups()
            batch = self._run_rewritten(
                subquery if subquery else f"SELECT * FROM {view}"
            )
            target, finalize = self._dml_table(name)
            res = apply_changes(
                target, batch, sequence_by=seq_col,
                op_col=op_col or "op",
                tombstone_retention=(
                    float(retention) if retention is not None else None
                ),
            )
            finalize()
            return self._summary(res)
        m = _VACUUM.match(text)
        if m and m.group(1) in self._tables:
            if m.group(1) in self._catalog_names:
                # a bare vacuum knows nothing about catalog pins: it
                # would delete the very version a published snapshot
                # (or a time-travel target) resolves through
                raise ValueError(
                    f"{m.group(1)!r} is catalog-managed: use MAINTAIN "
                    "CATALOG (pin-protected vacuum_tables) instead of "
                    "per-table VACUUM"
                )
            keep = int(m.group(2)) if m.group(2) else 1
            if m.group(3):  # DRY RUN: read-only preview, nothing mutated
                would = self._tables[m.group(1)].vacuum(
                    keep_versions=keep, dry_run=True
                )
                return self._result_df(
                    [(len(would),)], "files_would_delete long"
                )
            deleted = self._tables[m.group(1)].vacuum(keep_versions=keep)
            return self._result_df(
                [(len(deleted),)], "files_deleted long"
            )
        m = _MAINTAIN_CATALOG.match(text)
        if m and m.group(1) not in self._tables:
            # catalog-integrated tick: recover() first (an orphaned
            # head would otherwise be compacted and published), then
            # per-table z-aware compaction inside transactions, stats
            # advance, and pin-protected vacuum. The exact-spelling
            # guard lets a table literally registered under the typed
            # name take the per-table path instead.
            if self._catalog is None:
                raise ValueError("MAINTAIN CATALOG needs attach_catalog()")
            if self._txn is not None:
                raise ValueError(
                    "MAINTAIN CATALOG inside a transaction is not "
                    "supported (it would compact and publish the open "
                    "transaction's unpublished writes)"
                )
            kw: dict = {}
            if m.group(2):
                kw["target_rows"] = int(m.group(2))
            if m.group(3):
                kw["keep_versions"] = int(m.group(3))
            if m.group(4):
                # HISTORY h COMMITS: trim catalog commits beyond the
                # newest h, unprotecting the pins they carried (clone
                # keep-sets still protect registered branches)
                kw["catalog_history"] = int(m.group(4))
            if m.group(5):
                # REINDEX SKEW s [LEARNED [n]]: opt-in auto-heal —
                # recluster a registered vector index whose max/median
                # list skew reaches s (an O(corpus) rebuild the
                # operator explicitly accepts; atomic epoch swap);
                # LEARNED refines the re-sampled centroids with n
                # (default 2) Lloyd rounds before the lists build
                kw["reindex_skew"] = float(m.group(5))
                if m.group(6):
                    kw["reindex_learned"] = (
                        int(m.group(7)) if m.group(7) else 2
                    )
            rep = self._catalog.maintain_tables(**kw)
            self._head_version.clear()
            rows = []
            for n, r in rep.items():
                if n in ("vacuumed", "recovered"):
                    continue
                if n.startswith("index:"):
                    # registered-index tick: "compacted" reads as
                    # "refreshed", version as the applied base version
                    rows.append(
                        (n, bool(r.get("refreshed")), r.get("applied"))
                    )
                else:
                    rows.append(
                        (n, bool(r.get("compacted")), r.get("version"))
                    )
            return self._result_df(
                rows, "name string, compacted boolean, version long"
            )
        m = _MAINTAIN.match(text)
        if m and m.group(1) in self._tables:
            # the unattended steady-state tick as ONE statement — the
            # scheduler loop the reference runs as dedicated DAGs:
            # small-file compact (z-aware: clustered tables compact
            # through the incremental z-order path), drift-gated
            # re-cluster, ANALYZE advance from the change feed, vacuum
            name = m.group(1)
            if name in self._catalog_names:
                # a bare maintain() on a catalog table would vacuum the
                # version the catalog pins (breaking every catalog
                # read) and land unpublished commits recover() treats
                # as torn transactions
                raise ValueError(
                    f"{name!r} is catalog-managed: use MAINTAIN "
                    "CATALOG (pin-protected vacuum, transactional "
                    "compaction) instead of per-table MAINTAIN"
                )
            kw = {}
            if m.group(2):
                kw["target_rows"] = int(m.group(2))
            if m.group(3):
                kw["keep_versions"] = int(m.group(3))
            res = self._tables[name].maintain(**kw)
            self._refresh_head(name)
            return self._result_df(
                [(
                    name,
                    bool(res.get("compacted")),
                    bool(res.get("retightened")),
                    res.get("stats_version"),
                    len(res.get("vacuumed") or []),
                )],
                "name string, compacted boolean, retightened boolean, "
                "stats_version long, files_vacuumed long",
            )
        m = _ALTER_ADD_COL.match(text)
        if m and m.group(1) in self._tables:
            return self._alter_add_column(
                m.group(1), m.group(2), m.group(3).strip()
            )
        m = _ALTER_RENAME_TABLE.match(text)
        if m and m.group(1) in self._tables:
            return self._rename_table(m.group(1), m.group(2))
        for pat, call in (
            (_ALTER_RENAME,
             lambda t, a, b: t.rename_column(a, b)),
            (_ALTER_DROP_COL, lambda t, a: t.drop_column(a)),
            (_ALTER_ADD_CHECK,
             lambda t, n, e: t.add_constraint(n, e)),
            (_ALTER_DROP_CHECK, lambda t, n: t.drop_constraint(n)),
            (_ALTER_SET_PART,
             lambda t, s: t.set_partition_spec(
                 tuple(p.strip() for p in _split_top_level(s))
             )),
        ):
            m = pat.match(text)
            if m and m.group(1) in self._tables:
                tname = m.group(1)
                if (
                    pat in (_ALTER_RENAME, _ALTER_DROP_COL)
                    and self._txn is not None
                    and tname in self._catalog_names
                ):
                    # the spec sync below is eager; a later ROLLBACK
                    # would restore the table head but not the specs
                    raise ValueError(
                        "ALTER TABLE ... RENAME/DROP COLUMN on a "
                        "catalog table inside an explicit transaction "
                        "is not supported; COMMIT or ROLLBACK first"
                    )
                # route through _dml_table: a catalog-managed table's
                # schema commit must PUBLISH (an implicit transaction),
                # or the next recover() rolls the ALTER back as a torn
                # head — same contract as every other DML statement
                target, finalize = self._dml_table(tname)
                res = call(target, *m.groups()[1:])
                finalize()
                # keep the upsert specs in step with the schema, or
                # INSERT/MERGE text breaks on the renamed/dropped name
                specs = self._columns.get(tname)
                if specs is not None and pat is _ALTER_RENAME:
                    import dataclasses

                    old_c, new_c = m.group(2), m.group(3)
                    self._columns[tname] = [
                        dataclasses.replace(c, name=new_c)
                        if c.name == old_c else c
                        for c in specs
                    ]
                elif specs is not None and pat is _ALTER_DROP_COL:
                    self._columns[tname] = [
                        c for c in specs if c.name != m.group(2)
                    ]
                # ALTERs return {version, ...}; surface the version
                return self._result_df(
                    [(res["version"],)], "version long"
                )
        return self._run_rewritten(text)

    def _alter_add_column(
        self, name: str, col: str, dtype: str
    ) -> DataFrame:
        """``ALTER TABLE t ADD COLUMN c <type>`` — metadata-only schema
        evolution (no file rewritten; existing rows read NULL). The
        facade additionally extends the table's upsert specs so INSERT
        / MERGE text can carry the new column immediately, which caps
        the accepted types at the default-spec set — exactly the CTAS
        gate; exotic types go through the API's add_column with
        explicit ColumnSpecs."""
        from pyspark.sql.types import StructType

        try:
            simple = StructType.fromDDL(
                f"`{col}` {dtype}"
            )[0].dataType.simpleString()
        except Exception as exc:
            raise ValueError(
                f"ADD COLUMN type {dtype!r} is not valid DDL: {exc}"
            ) from None
        dt = self._SPEC_TYPES.get(simple)
        if dt is None:
            raise ValueError(
                f"ADD COLUMN type {dtype!r} has no default upsert "
                "spec; evolve via the API's add_column + explicit "
                "ColumnSpecs"
            )
        if self._txn is not None and name in self._catalog_names:
            # the facade's column specs extend eagerly below; a later
            # ROLLBACK would restore the table head but not the specs,
            # leaving a phantom column that breaks every INSERT/MERGE.
            # Schema DDL goes outside explicit transactions.
            raise ValueError(
                "ALTER TABLE ... ADD COLUMN on a catalog table inside "
                "an explicit transaction is not supported; COMMIT or "
                "ROLLBACK first"
            )
        target, finalize = self._dml_table(name)
        # record the PHYSICAL type the engine's writes will produce:
        # every integer-spec merge writes INT64 (Datatype.int maps to
        # LongType engine-wide) and float specs write doubles, so a
        # manifest schema keeping the declared narrow width would make
        # the first post-ALTER write unreadable (parquet INT64 read
        # through an int field)
        res = target.add_column(col, self._PHYSICAL_DDL.get(simple, dtype))
        finalize()
        specs = self._columns.get(name)
        if specs is not None:
            self._columns[name] = list(specs) + [ColumnSpec(col, dt)]
        self._refresh_head(name)
        return self._result_df(
            [(res["version"],)], "version long"
        )

    # -- DDL -----------------------------------------------------------------

    #: declared DDL width -> the width the engine physically writes.
    #: Integer upsert specs coerce to LongType and float specs to
    #: DoubleType (the reference's pg_int4 guard posture, engine-wide),
    #: so declared-schema DDL must normalize or the manifest schema and
    #: the parquet files would disagree after the first write.
    _PHYSICAL_DDL = {
        "int": "bigint",
        "smallint": "bigint",
        "tinyint": "bigint",
        "float": "double",
    }

    _SPEC_TYPES = {
        "string": Datatype.char,
        "bigint": Datatype.int,
        "int": Datatype.int,
        "smallint": Datatype.int,
        "tinyint": Datatype.int,
        "double": Datatype.double,
        "float": Datatype.double,
        "boolean": Datatype.bool,
        "timestamp": Datatype.timestamp,
        # embedding vectors: FP32 widens to FP64 like scalar float ->
        # double (the engine-wide width posture); merges keep whatever
        # width the table physically holds via _conform_widths
        "array<double>": Datatype.array_double,
        "array<float>": Datatype.array_double,
    }

    def _specs_from_schema(self, schema, keys: tuple[str, ...]) -> list:
        """Default ColumnSpecs for a CTAS table: keys are required and
        immutable, every other column takes newest_non_null — the
        reference's standard upsert posture. Exotic types must register
        explicit columns instead."""
        specs = []
        for f in schema.fields:
            dt = self._SPEC_TYPES.get(f.dataType.simpleString())
            if dt is None:
                raise ValueError(
                    f"CREATE TABLE column {f.name} has type "
                    f"{f.dataType.simpleString()}, which has no default "
                    "upsert spec; create the table via the API with "
                    "explicit ColumnSpecs"
                )
            if f.name in keys:
                specs.append(ColumnSpec(
                    f.name, dt, required=True,
                    upsert_strategy=UpsertStrategy.no_change,
                ))
            else:
                specs.append(ColumnSpec(f.name, dt))
        return specs

    def _refuse_create_in_txn(self) -> None:
        """Registration is its own catalog commit OUTSIDE any open
        transaction — ROLLBACK could not undo it, and the head refresh
        would KeyError on the pre-CREATE snapshot. Shared by every
        table-creating statement."""
        if self._txn is not None and self._catalog is not None:
            raise ValueError(
                "CREATE TABLE with an attached catalog inside an "
                "explicit transaction is not supported; COMMIT or "
                "ROLLBACK first"
            )

    def _resolve_new_root(self, name: str, location, stmt: str) -> str:
        """LOCATION / workdir resolution + the exists guard, shared by
        every table-creating statement (CTAS, empty DDL, clone)."""
        import os

        root = location or (
            os.path.join(self.workdir, name) if self.workdir else None
        )
        if root is None:
            raise ValueError(
                f"{stmt} needs LOCATION '<dir>' or a facade workdir"
            )
        if os.path.exists(root):
            raise ValueError(
                f"{stmt} location {root!r} already exists (DROP TABLE "
                "leaves files on disk for time travel); pick a new "
                "LOCATION or remove the directory first"
            )
        return root

    def _register_new_table(self, name: str, t: CowTable, cols) -> None:
        """Register a just-created table with the facade AND the
        attached catalog (when any) — one copy of the block every
        creating statement needs."""
        self._columns[name] = cols
        if self._catalog is not None:
            self._catalog.register(name, t)
            self._tables[name] = t
            self._catalog_names.add(name)
            self._refresh_head(name)
        else:
            self.register_table(name, t, columns=cols)

    def _create_table(self, m: re.Match) -> DataFrame:
        """``CREATE TABLE t PRIMARY KEY (k, ...)
        [PARTITIONED BY (day(ts), bucket(16, col), ...)]
        [LOCATION '<dir>'] AS <select>`` — materializes the query as a
        NEW CoW lake table (PRIMARY KEY = the merge keys, the
        reference's ON CONFLICT target), registers it (and the attached
        catalog, when any), and derives default per-column upsert specs
        from the result schema so INSERT/MERGE/UPDATE text works
        immediately. PARTITIONED BY takes Iceberg-style hidden partition
        transforms; ``ALTER TABLE t SET PARTITION SPEC (...)`` evolves
        them metadata-only."""
        name, keys_text, part_text, location, query = m.groups()
        if name in self._tables:
            raise ValueError(f"table {name!r} already exists")
        self._refuse_create_in_txn()
        keys = tuple(k.strip() for k in keys_text.split(","))
        partition_by = tuple(
            p.strip() for p in _split_top_level(part_text)
        ) if part_text else ()
        root = self._resolve_new_root(name, location, "CREATE TABLE")
        df = self._run_rewritten(query)
        for k in keys:
            if k not in df.columns:
                raise ValueError(
                    f"PRIMARY KEY column {k!r} not in CTAS result "
                    f"columns {df.columns}"
                )
        # widen narrow numerics to the engine's physical types before
        # the v1 write: later INSERT/MERGE upserts coerce through the
        # default specs (int->LongType, float->DoubleType), and a table
        # whose v1 files are INT32 while merge files are INT64 cannot
        # be read through its one manifest schema
        casts = {
            f.name: self._PHYSICAL_DDL[f.dataType.simpleString()]
            for f in df.schema.fields
            if f.dataType.simpleString() in self._PHYSICAL_DDL
        }
        if casts:
            df = df.select(*[
                F.col(c).cast(casts[c]).alias(c) if c in casts else F.col(c)
                for c in df.columns
            ])
        t = CowTable.create(
            self.spark, root, df, keys=keys, partition_by=partition_by
        )
        self._register_new_table(
            name, t, self._specs_from_schema(t.read().schema, keys)
        )
        return self._result_df(
            [(name, t.version, t.read().count())],
            "table string, version long, rows long",
        )

    def _create_table_empty(self, m: re.Match) -> DataFrame:
        """``CREATE TABLE t (col type, ...) PRIMARY KEY (k, ...)
        [PARTITIONED BY (...)] [LOCATION '<dir>']`` — an EMPTY lake
        table from an explicit column list, the reference's canonical
        posture (its media tables are created empty by DDL scripts —
        docker/local_postgres/0003_openledger_image_schema.sql:16-54 —
        and populated by loader upserts). The v1 manifest records the
        schema with zero data files, so INSERT / MERGE / streaming
        ingest work immediately; default upsert specs derive from the
        declared types exactly as for CTAS."""
        from pyspark.sql.types import StructType

        name, cols_text, keys_text, part_text, location = m.groups()
        if name in self._tables:
            raise ValueError(f"table {name!r} already exists")
        self._refuse_create_in_txn()
        keys = tuple(k.strip() for k in keys_text.split(","))
        partition_by = tuple(
            p.strip() for p in _split_top_level(part_text)
        ) if part_text else ()
        root = self._resolve_new_root(name, location, "CREATE TABLE")
        try:
            schema = StructType.fromDDL(cols_text)
        except Exception as exc:
            raise ValueError(
                f"CREATE TABLE column list {cols_text!r} is not a valid "
                f"'name type, ...' DDL list: {exc}"
            ) from None
        # normalize declared widths to what the engine physically
        # writes (int->bigint, float->double): the v1 manifest schema
        # must match the INT64/double parquet the first INSERT's merge
        # will produce, or the table becomes unreadable on arrival
        schema = StructType.fromDDL(", ".join(
            f"`{f.name}` "
            + self._PHYSICAL_DDL.get(
                f.dataType.simpleString(), f.dataType.simpleString()
            )
            for f in schema.fields
        ))
        for k in keys:
            if k not in schema.fieldNames():
                raise ValueError(
                    f"PRIMARY KEY column {k!r} not in declared columns "
                    f"{schema.fieldNames()}"
                )
        # derive upsert specs FIRST: an exotic declared type must fail
        # the statement before any directory is created
        cols = self._specs_from_schema(schema, keys)
        t = CowTable.create(
            self.spark, root,
            self.spark.createDataFrame([], schema),
            keys=keys, partition_by=partition_by,
        )
        self._register_new_table(name, t, cols)
        return self._result_df(
            [(name, t.version, 0)],
            "table string, version long, rows long",
        )

    def _clone_table(self, m: re.Match) -> DataFrame:
        """``CREATE TABLE c SHALLOW CLONE t [VERSION AS OF n]
        [LOCATION '<dir>']`` — Delta's zero-copy branch: a NEW lake
        table whose first manifest references the source snapshot's
        files (one metadata write, no data copied — branching a 100 TB
        table for an experiment is instant), evolving independently
        from there. The clone registers like any CTAS result, with the
        source's upsert specs when the facade knows them."""
        name, src_name, version, location = m.groups()
        if name in self._tables:
            raise ValueError(f"table {name!r} already exists")
        if self._txn is not None:
            raise ValueError(
                "SHALLOW CLONE inside a transaction is not supported"
            )
        src = self._tables[src_name]
        v = int(version) if version else None
        if v is None and src_name in self._catalog_names:
            # a catalog table's visible state is the PINNED version,
            # not the raw head: a rolled-back transaction can leave an
            # orphaned head version no catalog reader sees (and whose
            # files recover()/vacuum legitimately delete) — cloning it
            # would expose aborted data through an unreadable branch
            v = self._catalog._entry(src_name)["version"]
        root = self._resolve_new_root(name, location, "SHALLOW CLONE")
        t = src.clone(root, version=v)
        # a version-pinned clone may carry a HISTORICAL schema (columns
        # renamed/added since): keep the source's registered upsert
        # specs (custom strategies, required flags) whenever the cloned
        # snapshot still speaks the registration's column set, and fall
        # back to schema-derived defaults only when it does not —
        # comparing schemas, not version numbers, so a pin that merely
        # lags the head (post-rollback) keeps its strategies
        clone_cols = {f.name for f in t.read().schema.fields}
        known = self._columns.get(src_name)
        if known is not None and {c.name for c in known} <= clone_cols:
            cols = known
        else:
            cols = self._specs_from_schema(t.read().schema, t.keys)
        self._register_new_table(name, t, cols)
        return self._result_df(
            [(name, src_name, t.version, t.live_rows())],
            "table string, source string, version long, rows long",
        )

    def _rename_table(self, old: str, new: str) -> DataFrame:
        """``ALTER TABLE t RENAME TO u`` — registration-level rename:
        no table file, manifest, or root path moves. Catalog-managed
        tables rename in ONE catalog commit that carries the entry
        (root, pinned version, keys) verbatim, so the new name resolves
        exactly the snapshot the old name pinned; facade state
        (specs, head view) moves with it. Refused inside an explicit
        transaction for the same reason as the other registration DDL:
        ROLLBACK could not undo the eager facade/view moves."""
        if new in self._tables:
            raise ValueError(f"table {new!r} already exists")
        if new in self._mvs:
            raise ValueError(
                f"{new!r} is a materialized view; renaming a table onto "
                "it would clobber the view registration"
            )
        try:
            taken = self.spark.catalog.tableExists(new)
        except Exception as exc:
            # fail CLOSED: a guard that cannot verify the name is free
            # must refuse, not silently clobber whatever lives there
            raise ValueError(
                f"cannot verify name {new!r} is free: {exc}"
            ) from exc
        if taken:
            # a register_df frame or any other temp view under this
            # name: _refresh_head(new) would silently replace it
            raise ValueError(
                f"{new!r} is already a registered view/frame"
            )
        if self._txn is not None and old in self._catalog_names:
            raise ValueError(
                "ALTER TABLE ... RENAME TO on a catalog table inside "
                "an explicit transaction is not supported; COMMIT or "
                "ROLLBACK first"
            )
        if old in self._catalog_names:
            self._catalog.rename(old, new)
            self._catalog_names.discard(old)
            self._catalog_names.add(new)
        self._tables[new] = self._tables.pop(old)
        if old in self._columns:
            self._columns[new] = self._columns.pop(old)
        self._head_version.pop(old, None)
        self.spark.catalog.dropTempView(old)
        self._refresh_head(new)
        return self._result_df(
            [(old, new)], "renamed_from string, renamed_to string"
        )

    def _drop_table(self, name: str) -> DataFrame:
        """``DROP TABLE t``: unregister from the facade (and the
        catalog's mapping, when attached — its own catalog commit).
        Data files stay on disk for time travel against the root; a
        true purge is the table's vacuum."""
        if self._txn is not None and name in self._catalog_names:
            raise ValueError(
                "DROP TABLE inside a transaction is not supported"
            )
        if name in self._catalog_names:
            self._catalog.unregister(name)
            self._catalog_names.discard(name)
        self._tables.pop(name)
        self._columns.pop(name, None)
        self._head_version.pop(name, None)
        self.spark.catalog.dropTempView(name)
        return self._result_df([(name,)], "dropped string")
