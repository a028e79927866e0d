"""Manifest-based copy-on-write parquet table: the ACID-shaped canonical
table with file-skipping MERGE, snapshot isolation and time travel.

The reference keeps its canonical media table in Postgres and upserts
with ``INSERT ... ON CONFLICT`` under unique indexes
(``catalog/dags/common/loader/sql.py:264-332``,
``docker/local_postgres/0003_openledger_image_schema.sql:46-54``). At
100 TB that table is a lake-format table (Delta/Iceberg); neither is in
this environment, so this module implements the minimal version of the
same contract from parquet + JSON manifests only:

  <root>/data/<commit>/part-*.parquet   immutable data files (copy-on-write)
  <root>/manifests/v<N>.json            file list + per-file key-range stats
  <root>/VERSION                        current-version pointer (cache)

Writer-writer safety is OPTIMISTIC CONCURRENCY, the same protocol as
Delta's log: every commit attempt writes its data files into a UNIQUE
directory (``data/c<uuid>``), then claims version N by exclusive-create
of ``manifests/v<N>.json`` (an ``os.link`` from a fully-written temp
file, so a manifest is complete the instant it appears). The manifest
link IS the commit point; whoever links v<N> first wins that version.
A loser gets ``CommitConflict``, deletes its orphan data directory, and
REBASES: re-reads the winner's snapshot and recomputes its merge
against it (so both logical updates survive — no lost update). The
VERSION pointer is only a reader convenience; if a writer dies between
manifest link and pointer swap, every ``version`` lookup rolls forward
past the stale pointer implicitly. The reference gets the equivalent guarantee
from Postgres transactions (``loader/sql.py:314-332``) plus a 1-slot
refresh pool (``data_refresh_task_factory.py:156-163``); here
concurrent provider merges + a compactor genuinely interleave.

MERGE semantics are exactly ``merge_upsert`` / ``merge_upsert_pruned``
(url dedupe, cross-partition url-conflict guard against the FULL table,
per-column upsert strategies), but the physical work is bounded by FILE
SKIPPING: data files are range-clustered on the merge key at write time,
each manifest entry carries the file's (min, max) composite-key range,
and a merge rewrites only the files whose range intersects the batch —
every other file is carried into the new snapshot by reference, never
read. Readers pin a manifest version, so they see either the old or the
new snapshot, never a mix; historical versions stay readable until
``vacuum``.
"""

from __future__ import annotations

import base64
import dataclasses
import datetime
import json
import os
import re
import shutil
import uuid
from bisect import bisect_left
from urllib.parse import quote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from openverse_catalog_spark.operators.merge import (
    DEFAULT_MERGE_KEYS,
    distinct_on,
    merge_upsert,
    url_conflict_filter,
)
from openverse_catalog_spark.schemas.columns import ColumnSpec, spark_schema


class ConstraintViolation(ValueError):
    """A write commit produced rows violating a table CHECK constraint;
    the commit is rejected (no version is created). Fix the data or
    drop the constraint."""


class RetentionError(ValueError):
    """A change-feed span (or time-travel target) was vacuumed past —
    the consumer fell behind retention. Subclasses ValueError for
    backward compatibility, but incremental consumers (matview, search
    index) catch THIS type specifically so an unrelated ValueError (a
    misconfigured span, a merge-side bug) surfaces instead of being
    silently converted into an O(corpus) full resync."""


class CommitConflict(RuntimeError):
    """Another writer claimed the version this commit attempt computed.
    Retryable: re-read the snapshot and recompute the change against it
    (``CowTable.merge``/``compact`` do this automatically up to
    ``max_retries``)."""


#: Reader feature gate (Delta's minReaderVersion, spelled as feature
#: flags): every commit records which OPTIONAL read-path capabilities
#: its snapshot needs ("dv" = deletion-vector anti-apply,
#: "column_mapping" = physical->logical name translation). A reader
#: built before a feature existed REFUSES the table with a clear error
#: instead of silently returning wrong rows (deleted rows resurrected,
#: physical column names leaked) — forward compatibility as a hard gate.
READER_FEATURES = frozenset({"dv", "column_mapping"})

#: HIDDEN PARTITIONING (Iceberg partition transforms, manifest-level).
#: A partition spec is a tuple of transform strings — ``"day(created_on)"``,
#: ``"bucket(16, provider)"``, ``"truncate(4, category)"``, ``"identity(col)"``
#: (or a bare column name) — parsed into field specs. Unlike Hive/Iceberg
#: directory layouts, partition values live ONLY in the manifest: every
#: write clusters rows by the transform values (then merge key), and each
#: file's entry records the min/max of every partition field, so most
#: files hold a single partition tuple and ``read_where`` predicates on
#: the SOURCE column prune files through the transform — users never
#: query the derived field (that is what makes the partitioning hidden).
#: Spec evolution is metadata-only: files keep the fields they were
#: written under, and pruning consults whatever fields each entry has.
_PARTITION_TIME_SLICES = {"year": 4, "month": 7, "day": 10, "hour": 13}
_PARTITION_TIME_FORMATS = {
    "year": "yyyy", "month": "yyyy-MM", "day": "yyyy-MM-dd",
    "hour": "yyyy-MM-dd HH",
}
_PARTITION_SPEC_RE = re.compile(
    r"^\s*(?:(identity|year|month|day|hour)\(\s*(\w+)\s*\)"
    r"|(bucket|truncate)\(\s*(\d+)\s*,\s*(\w+)\s*\)"
    r"|(\w+))\s*$"
)


def parse_partition_specs(partition_by) -> list[dict]:
    """Parse transform strings into field specs
    ``{transform, col, arg, name}``. Field names are deterministic
    (``created_on_day``, ``provider_bucket16``) so two handles of the
    same table always agree on manifest keys."""
    out, seen = [], set()
    for raw in partition_by:
        m = _PARTITION_SPEC_RE.match(str(raw))
        if not m:
            raise ValueError(
                f"bad partition transform {raw!r}; expected identity(col), "
                "year/month/day/hour(col), bucket(n, col), "
                "truncate(w, col), or a bare column name"
            )
        if m.group(1):
            t, col, arg = m.group(1), m.group(2), None
        elif m.group(3):
            t, col, arg = m.group(3), m.group(5), int(m.group(4))
            if arg <= 0:
                raise ValueError(f"{t} arg must be positive in {raw!r}")
        else:
            t, col, arg = "identity", m.group(6), None
        name = (
            col if t == "identity"
            else f"{col}_{t}{arg}" if arg is not None
            else f"{col}_{t}"
        )
        if name in seen:
            raise ValueError(f"duplicate partition field {name!r}")
        seen.add(name)
        out.append({"transform": t, "col": col, "arg": arg, "name": name})
    return out


def _partition_field_expr(spec: dict, phys_col: str, dtype) -> Column:
    """The Spark-side transform expression over the PHYSICAL column.
    Type-gated exactly like bloom columns: bucket/truncate hash or slice
    a canonical representation, so only types whose driver-side probe
    (``_transform_probe``) is guaranteed to match are allowed."""
    c = F.col(phys_col)
    t = spec["transform"]
    type_name = dtype.typeName() if dtype is not None else None
    if t == "identity":
        return c
    if t in _PARTITION_TIME_FORMATS:
        if type_name not in (None, "timestamp", "timestamp_ntz", "date"):
            raise ValueError(
                f"partition transform {t}({spec['col']}) needs a "
                f"timestamp/date column, got {type_name}"
            )
        return F.date_format(c, _PARTITION_TIME_FORMATS[t])
    if t == "bucket":
        if type_name not in (None, "string", "integer", "long", "short", "byte"):
            raise ValueError(
                f"partition transform bucket({spec['col']}) needs a "
                f"string/integral column, got {type_name} (float/bool/"
                "binary stringify differently driver-side)"
            )
        # crc32 of the utf8 string — zlib.crc32 on the driver probe side
        # produces the identical unsigned value
        return F.pmod(F.crc32(c.cast("string").cast("binary")), spec["arg"])
    if t == "truncate":
        if type_name == "string":
            return F.substring(c, 1, spec["arg"])
        if type_name in (None, "integer", "long", "short", "byte"):
            # Iceberg truncate: v - (v mod w), mod non-negative (pmod)
            return c - F.pmod(c, spec["arg"])
        raise ValueError(
            f"partition transform truncate({spec['col']}) needs a "
            f"string/integral column, got {type_name}"
        )
    raise ValueError(f"unknown transform {t!r}")


def _transform_probe(spec: dict, v):
    """Driver-side twin of ``_partition_field_expr``: apply the
    transform to a predicate bound so it can be compared against the
    per-file partition min/max. Returns NotImplemented when the probe
    value's type cannot be transformed faithfully — callers must then
    keep the file (conservative)."""
    t = spec["transform"]
    if t == "identity":
        return v
    if t in _PARTITION_TIME_SLICES:
        if hasattr(v, "strftime"):
            s = v.strftime("%Y-%m-%d %H:%M:%S")
        elif isinstance(v, str):
            s = v
        else:
            return NotImplemented
        n = _PARTITION_TIME_SLICES[t]
        # the probe must carry at least the transform's resolution (an
        # hour probe lacking the hour part would under-approximate an
        # upper bound and could wrongly prune the boundary row), and the
        # slice must be the canonical prefix date_format emits — a
        # non-ISO probe ("2023-5-1") must NOT prune
        if len(s) < n or not re.fullmatch(
            r"\d{4}(-\d{2}(-\d{2}( \d{2})?)?)?", s[:n]
        ):
            return NotImplemented
        return s[:n]
    if t == "bucket":
        import zlib

        if not isinstance(v, (str, int)) or isinstance(v, bool):
            return NotImplemented
        return zlib.crc32(str(v).encode()) % spec["arg"]
    if t == "truncate":
        if isinstance(v, str):
            return v[: spec["arg"]]
        if isinstance(v, int) and not isinstance(v, bool):
            return v - (v % spec["arg"])
        return NotImplemented
    return NotImplemented


def _data_rel(entry_path: str) -> str:
    """A manifest entry path (``data/cXXX/.../part.parquet``, or an
    absolute clone-source path) reduced to its data-relative identity —
    the same coordinate ``_with_position`` tags rows with."""
    i = entry_path.rfind("/data/")
    if i >= 0:
        return entry_path[i + len("/data/"):]
    if entry_path.startswith("data/"):
        return entry_path[len("data/"):]
    return entry_path.rsplit("/", 1)[-1]


def _split(entries: list[dict], hit) -> tuple[list[dict], list[dict]]:
    """(the entries ``hit`` accepts, the rest), each in manifest order."""
    yes: list[dict] = []
    no: list[dict] = []
    for e in entries:
        (yes if hit(e) else no).append(e)
    return yes, no


def _rel_path(dir_path: str, full: str) -> str:
    """Path of ``full`` relative to ``dir_path``. ``input_file_name``
    URIs carry a scheme prefix, and partition-pure writes nest files
    under ``__p_*=value`` dirs where BASENAMES repeat across dirs (one
    task writes the same part-NNNNN name into each partition dir it
    touches) — the relative path is the only safe file identity."""
    marker = dir_path.rstrip("/")
    i = full.find(marker)
    if i >= 0:
        return full[i + len(marker):].lstrip("/")
    return full.rstrip("/").rsplit("/", 1)[-1]


def _file_stats(
    spark: SparkSession,
    dir_path: str,
    keys: tuple[str, ...],
    rel_dir: str,
    stats_cols: tuple[str, ...] = (),
    part_specs: tuple[dict, ...] = (),
    colmap: dict | None = None,
) -> list[dict]:
    """One column-pruned scan over a data directory -> per-file manifest
    entries (row count + min/max + NULL count of each merge key, plus
    the same triple for every ``stats_cols`` column — the table's
    DATA-SKIPPING stats, Delta's per-file column stats).
    ``rel_dir`` is the directory's path relative to the table root
    (e.g. ``data/c3f9...``) — manifest paths are built from it plus the
    file's basename, so a table root that itself contains a ``/data/``
    segment cannot corrupt them.

    NULL counts matter for correctness, not just stats: min/max skip
    NULLs, so a file holding NULL-key rows reports a range that excludes
    the NULL point — ``CowTable._entry_hit`` uses ``null_keys`` to
    route NULL-key batch rows to every file that can hide a NULL-key
    match."""
    df = spark.read.parquet(dir_path)
    # __p_* columns are directory-layout-only (partition-pure writes);
    # they are never part of the table schema
    df = df.drop(*[c for c in df.columns if c.startswith("__p_")])
    stats_cols = tuple(c for c in stats_cols if c in df.columns)
    aggs = [F.count(F.lit(1)).alias("rows")]
    for k in (*keys, *stats_cols):
        aggs += [
            F.min(k).alias(f"min_{k}"),
            F.max(k).alias(f"max_{k}"),
            F.sum(F.col(k).isNull().cast("long")).alias(f"nulls_{k}"),
        ]
    derived: list[str] = []
    for s in part_specs:
        phys = (colmap or {}).get(s["col"], s["col"])
        if phys not in df.columns:
            continue  # pre-evolution files lack the source column
        ex = _partition_field_expr(s, phys, df.schema[phys].dataType)
        aggs += [
            F.min(ex).alias(f"pmin_{s['name']}"),
            F.max(ex).alias(f"pmax_{s['name']}"),
        ]
        derived.append(s["name"])
    rows = (
        df.groupBy(F.input_file_name().alias("__file"))
        .agg(*aggs)
        .collect()
    )
    entries = []
    for r in rows:
        rel = _rel_path(dir_path, r["__file"])
        entry = {
            "path": f"{rel_dir}/{rel}",
            "rows": r["rows"],
            "min": {k: r[f"min_{k}"] for k in keys},
            "max": {k: r[f"max_{k}"] for k in keys},
            "null_keys": {k: r[f"nulls_{k}"] for k in keys},
        }
        if stats_cols:
            entry["stats"] = {
                c: {
                    "min": r[f"min_{c}"],
                    "max": r[f"max_{c}"],
                    "nulls": r[f"nulls_{c}"],
                }
                for c in stats_cols
            }
        if derived:
            entry["part"] = {
                n: [r[f"pmin_{n}"], r[f"pmax_{n}"]] for n in derived
            }
        entries.append(entry)
    return sorted(entries, key=lambda e: e["path"])


#: parquet logical/physical types whose chunk statistics reproduce the
#: Spark min/max/null aggregate EXACTLY (empirically verified: Spark 4's
#: parquet-java writes untruncated chunk stats even for 200-byte
#: strings). Deliberately excluded: INT96 timestamps (no stats written),
#: FLOAT/DOUBLE (a NaN in the data is dropped from footer stats while
#: Spark's max() returns it — the manifest bound would silently exclude
#: rows from pruning), decimals and nested types.
_FOOTER_SAFE_PHYSICAL = {"INT32", "INT64", "BOOLEAN", "BYTE_ARRAY"}

#: URI path characters java.net.URI leaves unencoded (RFC 2396 pchar +
#: separators) — an on-disk name made only of these is byte-identical
#: to the Spark-side identity (input_file_name / _metadata.file_path).
#: quote() additionally always keeps ASCII alphanumerics, '_', '.',
#: '-' and '~'.
_URI_PATH_SAFE = "/!*'():@&=+$,;"


def _m3_hash_int(x: int, seed: int = 42) -> int:
    """Spark's Murmur3_x86_32.hashInt — the hash behind
    ``hashpartitioning(int_col, n)`` (seed 42). Pure-Python port so the
    driver can pre-compute routing values whose ``pmod(hash, n)`` lands
    on a chosen partition (pinned against ``F.hash`` in tests)."""
    m = 0xFFFFFFFF
    k1 = (x * 0xCC9E2D51) & m
    k1 = ((k1 << 15) | (k1 >> 17)) & m
    k1 = (k1 * 0x1B873593) & m
    h1 = (seed ^ k1) & m
    h1 = ((h1 << 13) | (h1 >> 19)) & m
    h1 = (h1 * 5 + 0xE6546B64) & m
    h1 ^= 4  # fmix length in bytes
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & m
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & m
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


_ROUTE_SLOT_CACHE: dict[int, list[int]] = {}


def _hash_route_slots(n: int) -> list[int]:
    """Small ints x_0..x_{n-1} with ``pmod(murmur3(x_j), n) == j`` —
    routing values that give an EXACT one-partition-per-value hash
    exchange. ``repartition(n, col)`` hash-partitions, and hashing raw
    ids 0..n-1 collides (guide §2.5: synthetic keys with too few
    distinct values); mapping each range-bucket id through its inverse-
    hash slot makes partition j receive exactly bucket j."""
    got = _ROUTE_SLOT_CACHE.get(n)
    if got is not None:
        return got
    slots: dict[int, int] = {}
    x = 0
    while len(slots) < n:
        j = _m3_hash_int(x) % n
        if j not in slots:
            slots[j] = x
        x += 1
    out = [slots[j] for j in range(n)]
    _ROUTE_SLOT_CACHE[n] = out
    return out


def _sortable_key(kt: tuple) -> tuple:
    """NULL-safe per-component sort wrapper (None first — Spark's
    ascending-nulls-first range ordering)."""
    return tuple((v is not None, v) for v in kt)


def _determine_bounds(cands: list[tuple], partitions: int) -> list[tuple]:
    """Weighted range-split points over candidate keys — a faithful port
    of RangePartitioner.determineBounds (cumulative weight stepping with
    duplicate-bound skipping), so driver-derived bounds reproduce what
    Spark's range-sampling pass computes when the sample covers the full
    input. ``cands`` = [(key_tuple, weight)]; returns <= partitions-1
    ascending key tuples."""
    ordered = sorted(cands, key=lambda c: _sortable_key(c[0]))
    sum_w = float(sum(w for _, w in ordered))
    if sum_w <= 0 or partitions <= 1:
        return []
    step = sum_w / partitions
    cum = 0.0
    target = step
    bounds: list[tuple] = []
    prev = None
    for kt, w in ordered:
        if len(bounds) >= partitions - 1:
            break
        cum += w
        if cum >= target:
            sk = _sortable_key(kt)
            if prev is None or sk > prev:
                bounds.append(kt)
                prev = sk
                target += step
    return bounds


#: Python-side value types the driver-derived range bounds support:
#: exactly the types whose Python ordering matches Spark's SQL ordering
#: (str compares by code point == UTF-8 byte order; bool is an int
#: subclass; date/datetime compare chronologically). Floats are
#: deliberately out (NaN ordering diverges), as are Decimal/bytes.
_BOUNDS_SAFE_TYPES = (str, int, datetime.date)


def _footer_file_stats(
    dir_path: str,
    keys: tuple[str, ...],
    rel_dir: str,
    stats_cols: tuple[str, ...] = (),
    part_specs: tuple[dict, ...] = (),
    colmap: dict | None = None,
    utc_session: bool = False,
) -> list[dict] | None:
    """Per-file manifest entries read from parquet FOOTERS — the
    driver-side twin of :func:`_file_stats`. Every commit needs (rows,
    min/max/null-count per merge key + stats col) for the files it just
    wrote; the parquet writer already computed all of it into chunk
    statistics, so reading footers replaces a whole Spark job per
    commit (guide §1.2: remove passes — the stats scan re-read every
    written byte to recompute numbers sitting in the footer).

    Partitioned tables take the same path: files are PARTITION-PURE
    (``CowTable._write`` routes every row of a file through one
    partition tuple), so each partition field is CONSTANT within a
    file and ``pmin == pmax == _transform_probe(spec, footer_min)`` —
    the footer min is an actual row value, and the probe is the exact
    driver-side twin of the Spark transform for every type the table
    admits as a partition source. ``probe(min) == probe(max)`` is
    checked per file as a purity invariant; any mismatch (or a type
    the probe cannot transform faithfully) falls back to the scan.

    Returns None when fidelity cannot be guaranteed — a needed column
    has a type outside ``_FOOTER_SAFE_PHYSICAL``, a chunk lacks
    statistics, or exactness is in doubt — and the caller falls back to
    the Spark scan. A key/stats column missing from a file's schema
    contributes (None, None, rows) exactly as the scan's NULL-fill
    would; a missing partition SOURCE column bails to the scan."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow ships with pyspark
        return None
    try:
        # partition-pure writes nest files under __p_*=value dirs;
        # walk keeps the unpartitioned layout (top-level files) intact
        names = sorted(
            os.path.relpath(os.path.join(r, f), dir_path)
            for r, _dirs, fs in os.walk(dir_path)
            for f in fs
            if f.endswith(".parquet")
        )
    except OSError:
        return None
    for name in names:
        # manifest paths follow the Spark-side identity convention
        # (input_file_name / _metadata.file_path), which is the
        # URI-ENCODED form of the on-disk name; a name the encoding
        # would alter (e.g. an hour-transform dir's space) cannot be
        # reproduced from the raw walk byte-for-byte — take the scan
        if quote(name, safe=_URI_PATH_SAFE) != name:
            return None
    spec_phys = [
        (colmap or {}).get(s["col"], s["col"]) for s in part_specs
    ]
    entries: list[dict] = []
    needed = (*keys, *stats_cols)
    agg_cols = (*needed, *(p for p in spec_phys if p not in needed))
    seen_cols: set[str] = set()
    for name in names:
        try:
            md = pq.ParquetFile(os.path.join(dir_path, name)).metadata
        except (OSError, pa.ArrowException):
            return None
        rows = md.num_rows
        if rows == 0:
            # the Spark scan produces no group (and no entry) for a
            # row-less file; mirror that
            continue
        # leaf-column lookup: top-level primitives have path == name
        col_idx: dict[str, int] = {}
        safe: dict[str, bool] = {}
        sch = md.schema
        for ci in range(len(sch)):
            c = sch.column(ci)
            p = c.path
            if "." not in p:
                col_idx[p] = ci
                logical = str(c.logical_type)
                if c.physical_type == "BYTE_ARRAY":
                    # must be a real string (binary min/max would
                    # JSON-serialize differently than Spark's)
                    safe[p] = logical == "String"
                elif logical.startswith("Timestamp"):
                    # micros/millis INT64 stats are exact (Spark's own
                    # precision); an isAdjustedToUTC=true (LTZ) value
                    # renders through the session tz on the Spark side,
                    # so it is only byte-equal under a UTC session.
                    # INT96 (physical, no stats) never reaches here.
                    safe[p] = c.physical_type == "INT64" and (
                        "isAdjustedToUTC=false" in logical or utc_session
                    )
                else:
                    safe[p] = (
                        c.physical_type in _FOOTER_SAFE_PHYSICAL
                        and "Time" not in logical
                    )
        seen_cols.update(col_idx)
        agg: dict[str, tuple] = {}
        for col in agg_cols:
            if col not in col_idx:
                agg[col] = (None, None, rows)  # schema-evolved file
                continue
            if not safe[col]:
                return None
            lo = hi = None
            nulls = 0
            n_vals = 0
            for gi in range(md.num_row_groups):
                st = md.row_group(gi).column(col_idx[col]).statistics
                if st is None or st.null_count is None:
                    return None
                nulls += st.null_count
                n_vals += md.row_group(gi).num_rows
                if st.has_min_max:
                    mn, mx = st.min, st.max
                    if isinstance(mn, datetime.datetime) and mn.tzinfo:
                        # pyarrow returns LTZ stats tz-aware (UTC);
                        # Spark's collect returns naive session-tz
                        # values — identical instants under the UTC
                        # session the gate above requires
                        mn = mn.astimezone(
                            datetime.timezone.utc
                        ).replace(tzinfo=None)
                        mx = mx.astimezone(
                            datetime.timezone.utc
                        ).replace(tzinfo=None)
                    lo = mn if lo is None or mn < lo else lo
                    hi = mx if hi is None or mx > hi else hi
                elif st.null_count != md.row_group(gi).num_rows:
                    # values exist but no bounds recorded: cannot
                    # reproduce the aggregate faithfully
                    return None
            agg[col] = (lo, hi, nulls)
        part: dict[str, list] | None = None
        if part_specs:
            part = {}
            for s, p in zip(part_specs, spec_phys):
                if p not in col_idx:
                    # the scan path's union-schema handling for a
                    # missing SOURCE column is not reproducible from
                    # this file alone — take the scan
                    return None
                lo, hi, nulls = agg[p]
                if lo is None:
                    # transform(NULL) routes to the null partition, so
                    # a file there is all-NULL in the source column;
                    # anything else means the footer gave no bounds
                    if nulls != rows:
                        return None
                    part[s["name"]] = [None, None]
                    continue
                pv_lo = _transform_probe(s, lo)
                pv_hi = _transform_probe(s, hi)
                if (
                    pv_lo is NotImplemented
                    or pv_hi is NotImplemented
                    or pv_lo != pv_hi  # partition purity invariant
                ):
                    return None
                part[s["name"]] = [pv_lo, pv_hi]
        entry = {
            "path": f"{rel_dir}/{name}",
            "rows": rows,
            "min": {k: agg[k][0] for k in keys},
            "max": {k: agg[k][1] for k in keys},
            "null_keys": {k: agg[k][2] for k in keys},
        }
        if stats_cols:
            entry["stats"] = {
                c: {
                    "min": agg[c][0],
                    "max": agg[c][1],
                    "nulls": agg[c][2],
                }
                for c in stats_cols
            }
        if part:
            entry["part"] = part
        entries.append(entry)
    # the Spark path silently drops a stats col absent from EVERY file
    # (its union-schema filter); mirror that so entries are byte-equal
    ghost = [c for c in stats_cols if c not in seen_cols]
    if ghost:
        for e in entries:
            for c in ghost:
                e["stats"].pop(c, None)
            if not e["stats"]:
                del e["stats"]
    return sorted(entries, key=lambda e: e["path"])


#: every Nth commit materializes the FULL file list; the commits between
#: are incremental segments (base + add/remove). Bounds both the
#: per-commit write cost (O(files changed), not O(files total)) and the
#: resolution walk (≤ N segment reads to reconstruct any version).
CHECKPOINT_INTERVAL = 10

#: per-file bloom sizing for bloom_cols point-lookup skipping: bitmaps
#: are sized from the FILE'S row count (~10 bits/row at 5 hashes ->
#: ~1% false-positive per file), bounded below (tiny files) and above
#: (a compacted 1M-row file gets the 1 Mbit cap = 128 KB raw). A bitmap
#: that still ends up more than half full (rows far beyond the cap)
#: prunes essentially nothing and is NOT stored — it would only bloat
#: every checkpoint. Each manifest bloom entry records its own
#: bits/hashes so readers probe with the build-time geometry.
BLOOM_BITS_PER_ROW = 10
BLOOM_MIN_BITS = 1024
BLOOM_MAX_BITS = 1 << 20
BLOOM_HASHES = 5
#: geometry of manifests written before per-file sizing (legacy
#: entries store a bare b64 string instead of {b64, bits, hashes})
BLOOM_BITS = 8192

#: ceiling on deletion-vector (file, pos) rows that may still be
#: broadcast into the anti-join that applies DVs at read/diff time.
#: The manifest records each entry's deleted-row count, so the guard
#: is metadata-only; past it the anti-join shuffles — a merge-on-read
#: table where deletes have accumulated tens of millions of dead rows
#: must not force a multi-GB broadcast on every read
DV_BROADCAST_MAX_ROWS = 4_000_000

#: incremental OPTIMIZE ZORDER drift gate: when the rows written under
#: the pinned bucket bounds but clamping OUTSIDE them accumulate past
#: this fraction of the TABLE's live rows, the next incremental run
#: escalates to a full re-cluster with fresh (headroom-padded) bounds.
#: Table-relative, not churn-relative: a monotonic-append z column
#: (timestamps, increasing ids) clamps ~100% of every new batch, and a
#: churn-relative gate would escalate to an O(table) rewrite on every
#: maintenance tick — the accumulated-over-table measure only fires
#: once the out-of-bounds mass is actually worth re-clustering.
ZORDER_CLAMP_RETIGHTEN = 0.2

#: headroom added to each side of the recomputed z-column ranges when a
#: drift-triggered retighten re-derives bounds: steady append lands
#: inside the padded range for a while instead of re-drifting on the
#: very next batch (cost: ~log2(1.5) bits of bucket precision)
ZORDER_RETIGHTEN_HEADROOM = 0.25

#: incremental ANALYZE NDV drift gate: deletes cannot leave a KMV
#: sketch, so after deletes the sketch NDV is only an UPPER bound of
#: the live distinct count. Once rows deleted since the last full
#: analyze exceed this fraction of the live row count, the incremental
#: path escalates to a full ANALYZE of the tracked columns (re-seeding
#: the sketches and resetting the drift counter) — the same
#: self-correcting shape as the z-order clamp gate.
STATS_NDV_RETIGHTEN = 0.2

def _pad_zorder_bounds(
    lo, hi, frac: float = ZORDER_RETIGHTEN_HEADROOM
) -> tuple:
    """Expand a numeric (lo, hi) z-column range by ``frac`` of its span
    on EACH side (drift direction is unknown). Integer bounds stay
    integers (the bucketing arithmetic divides the span); a degenerate
    span still gets a minimal pad so the range is never empty."""
    span = hi - lo
    if isinstance(lo, int) and isinstance(hi, int):
        pad = max(1, int(span * frac))
    else:
        pad = span * frac
        if pad <= 0.0:
            pad = max(abs(float(hi)), 1.0) * frac
    return (lo - pad, hi + pad)


#: Spark types whose CAST(x AS STRING) matches Python ``str(value)``
#: — the precondition for driver-side bloom probes to hash like the
#: executor-side build. Booleans ('True' vs 'true'), floats ('1e-07'
#: vs '1.0E-7') and binary do NOT, so they are rejected as bloom_cols.
_BLOOM_TYPES = ("string", "byte", "short", "int", "integer", "long", "bigint")


def _check_bloom_types(schema, cols: tuple[str, ...]) -> None:
    """bloom_cols must stringify identically on driver and executor —
    validate at create/commit time so a boolean/float/binary column
    can never silently make every probe hash differently than the
    build (which would rule out every file holding the value: WRONG
    results, not just lost pruning)."""
    by_name = {f.name: f.dataType.simpleString() for f in schema.fields}
    bad = [
        c for c in cols
        if c in by_name and by_name[c] not in _BLOOM_TYPES
    ]
    if bad:
        raise TypeError(
            f"bloom_cols {bad} have non-string/integral types "
            f"({[by_name[c] for c in bad]}); bloom probes hash str(value) "
            "which only matches CAST(x AS STRING) for string/integral "
            "columns — use stats_cols range skipping for other types"
        )


def _bloom_point_bits(value, n_bits: int, n_hashes: int) -> list[int]:
    """Driver-side twin of the executor bloom hashing (sketches.py
    ``_bloom_hashes`` + ``_probe_idx``): md5 of the value's string
    form, two 15-hex-digit halves, odd-stride double hashing. Values
    must stringify identically to Spark's CAST(x AS STRING) — true for
    string and integral columns (the supported bloom_cols types)."""
    import hashlib

    hex_ = hashlib.md5(str(value).encode()).hexdigest()
    h1 = int(hex_[0:15], 16)
    h2 = int(hex_[16:31], 16)
    return [(h1 + i * (2 * h2 + 1)) % n_bits for i in range(n_hashes)]


def _bloom_probeable(value) -> bool:
    """Only str/int probes hash like the executor-side build (bool is
    an int subclass but stringifies differently)."""
    return isinstance(value, (str, int)) and not isinstance(value, bool)


def _key_in(col: str, vals) -> Column:
    """``col IN vals``, the exact residual filter of a pruned read. A
    list of exact ints in the long range (``type(v) is int``: a bool
    or an int subclass never reaches the text) becomes ONE SQL
    expression, a constant number of py4j calls at any length, where
    ``isin`` makes one py4j literal per value (~1 s for 2 000 ids).
    Both give the same ``In``/``InSet`` over the same literal types,
    which the parquet scan pushes down. No values match nothing."""
    vals = list(vals)
    if not vals:
        return F.lit(False)
    if all(type(v) is int and -(2**63) <= v < 2**63 for v in vals):
        name = col.replace("`", "``")
        return F.expr(f"`{name}` IN ({','.join(map(str, vals))})")
    return F.col(col).isin(vals)


def _write_bloom_sidecar(
    spark: SparkSession,
    dir_path: str,
    rel_dir: str,
    cols: tuple[str, ...],
    sidecar_dir: str,
    n_hashes: int = BLOOM_HASHES,
) -> tuple[str, ...]:
    """Per-file bloom bitmaps for ``cols``, written EXECUTOR-SIDE as a
    parquet SIDECAR (rows ``(path, col, b64, bits, hashes)``; ``path``
    is the manifest entry path, root-relative). One pass over the
    directory: rows carry (file, md5 hash halves per col), grouped per
    file (batch-sized shuffle — this runs only over a commit's
    REWRITTEN files, never the table), bitmap built in numpy and SIZED
    from that file's row count (~BLOOM_BITS_PER_ROW bits/row, capped at
    BLOOM_MAX_BITS). A bitmap left more than half full by the cap would
    prune ~nothing — it is dropped rather than stored.

    SCALE: bitmaps never transit the driver and never enter the JSON
    manifest/checkpoints (a 100k-file OPTIMIZE with 2 bloom_cols is up
    to ~25 GB of bitmaps — the old collect-into-manifest path was the
    metadata design's sharpest edge). Entries record only the sidecar
    path; readers load the (sidecar, col) slice lazily at probe time.
    Returns the cols a sidecar was written for (() = none)."""
    import pandas as pd
    from pyspark.sql import types as T

    from openverse_catalog_spark.operators.sketches import _bloom_hashes

    df = spark.read.parquet(dir_path)
    _check_bloom_types(df.schema, cols)
    cols = tuple(c for c in cols if c in df.columns)
    if not cols:
        return ()
    sel = [F.input_file_name().alias("__file")]
    for c in cols:
        h1, h2 = _bloom_hashes(F.col(c))
        sel += [h1.alias(f"__h1_{c}"), h2.alias(f"__h2_{c}")]
    hashed = df.select(*sel)

    out_schema = T.StructType([
        T.StructField("path", T.StringType()),
        T.StructField("col", T.StringType()),
        T.StructField("b64", T.StringType()),
        T.StructField("bits", T.LongType()),
        T.StructField("hashes", T.LongType()),
    ])

    def per_file(pdf: pd.DataFrame) -> pd.DataFrame:
        import base64

        import numpy as np

        from openverse_catalog_spark.operators.cowtable import _rel_path
        from openverse_catalog_spark.operators.sketches import _probe_idx

        rel = _rel_path(dir_path, pdf["__file"].iloc[0])
        path = f"{rel_dir}/{rel}" if rel_dir else rel
        n_bits = min(
            max(BLOOM_MIN_BITS, -(-len(pdf) * BLOOM_BITS_PER_ROW // 64) * 64),
            BLOOM_MAX_BITS,
        )
        rows = []
        for c in cols:
            bitmap = np.zeros(n_bits // 8, dtype="uint8")
            idx = _probe_idx(
                pdf[f"__h1_{c}"], pdf[f"__h2_{c}"], n_bits, n_hashes
            ).ravel()
            np.bitwise_or.at(
                bitmap,
                (idx >> np.uint64(3)).astype("int64"),
                np.left_shift(
                    np.uint8(1), (idx & np.uint64(7)).astype("uint8")
                ),
            )
            fill = int(np.unpackbits(bitmap).sum()) / n_bits
            if fill > 0.5:  # saturated: prunes nothing, don't store
                continue
            rows.append((
                path, c,
                base64.b64encode(bitmap.tobytes()).decode(),
                n_bits, n_hashes,
            ))
        return pd.DataFrame(
            rows, columns=["path", "col", "b64", "bits", "hashes"]
        )

    (
        hashed.groupBy("__file")
        .applyInPandas(per_file, out_schema)
        .coalesce(8)  # few rows per commit; avoid 32 near-empty parts
        .write.mode("error")
        .parquet(sidecar_dir)
    )
    return cols


#: The batch key summary is collected to the driver: at most this many
#: key rows (the exact multiset path) or per-``keys[0]`` boxes (the
#: aggregation path) — a batch keyed at row grain would otherwise
#: collect unbounded.
_MAX_BATCH_KEYS = 65536


@dataclasses.dataclass(frozen=True)
class BatchSummary:
    """A write batch's merge-key summary, collected to the driver once
    per commit attempt (``CowTable._batch_summary``). The affected-file
    split, the clustered write's range bounds and the conflict re-link
    check all read it.

    ``boxes``: one ``(keys[0] value, lo, hi)`` per distinct ``keys[0]``
    value, where lo/hi bound ``keys[1]`` (with a single key, lo == hi
    == the key). min/max skip NULLs, so ``has_null`` separately records
    whether any key component of (keys[0], keys[1]) is NULL.
    ``range_box``: set only when the batch has too many distinct
    ``keys[0]`` values for per-value boxes (``boxes`` is then empty):
    one global ``(lo, hi)`` pair of (keys[0], keys[1]) tuples — a
    coarser, still conservative test. ``has_dup``: whether a full merge
    key repeats, None unless the caller asked. ``multiset``: the exact
    ``[(key_tuple, count)]``, None on overflow or for float/decimal
    keys (Python ordering could diverge from SQL's on NaN)."""

    boxes: list[tuple]
    has_null: bool
    range_box: tuple[tuple, tuple] | None = None
    has_dup: bool | None = None
    multiset: list[tuple] | None = None

    @property
    def empty(self) -> bool:
        """No source row: no box, no global box and no NULL-keyed row."""
        return not self.boxes and self.range_box is None and not self.has_null


@dataclasses.dataclass(frozen=True)
class WritePlan:
    """A commit's data layout: ``CowTable._plan_write`` decides it,
    ``CowTable._write`` carries it out. ``kind`` is ``"single"``,
    ``"bounds"`` (``n - 1`` driver-derived ``bounds``) or
    ``"sampled"``; ``order`` the clustering columns (merge keys, or
    ``("__z",)``); ``checkpoint`` lazily checkpoints the input."""

    kind: str
    n: int
    bounds: tuple[tuple, ...] = ()
    order: tuple[str, ...] = ()
    checkpoint: bool = False


class CowTable:
    """Handle on a copy-on-write table rooted at ``root``."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        keys: tuple[str, ...] = DEFAULT_MERGE_KEYS,
        checkpoint_interval: int = CHECKPOINT_INTERVAL,
        stats_cols: tuple[str, ...] | None = None,
        bloom_cols: tuple[str, ...] | None = None,
        partition_by: tuple[str, ...] | None = None,
    ):
        self.spark = spark
        self.root = root.rstrip("/")
        self.keys = tuple(keys)
        self.checkpoint_interval = max(1, int(checkpoint_interval))
        self._stats_cols = tuple(stats_cols) if stats_cols is not None else None
        self._bloom_cols = (
            tuple(bloom_cols) if bloom_cols is not None else None
        )
        if partition_by is not None:
            self._partition_spec: tuple[dict, ...] | None = tuple(
                parse_partition_specs(partition_by)
            )
            self._partition_fields: dict | None = {
                s["name"]: s for s in self._partition_spec
            }
        else:
            self._partition_spec = None
            self._partition_fields = None
        self._constraints: dict | None = None
        self._column_mapping: dict | None = None
        self._dropped_cols: tuple[str, ...] | None = None
        # resolved manifests are immutable once committed — cache per
        # handle so repeated reads/segment-chain walks don't re-parse
        self._resolved: dict[int, dict] = {}
        # lazily-loaded bloom sidecar slices, (sidecar_rel, col) ->
        # {entry_path: {"b64","bits","hashes"}}; sidecars are immutable
        self._bloom_cache: dict[tuple[str, str], dict] = {}

    @property
    def stats_cols(self) -> tuple[str, ...]:
        """Data-skipping stat columns: explicitly passed, else whatever
        the table's manifest records (a table property — every commit
        re-collects stats for the same columns so skipping keeps
        working across merges/compactions)."""
        if self._stats_cols is not None:
            return self._stats_cols
        try:
            self._stats_cols = tuple(self._manifest().get("stats_cols") or ())
        except FileNotFoundError:
            return ()
        return self._stats_cols

    @property
    def constraints(self) -> dict:
        """CHECK constraints (table property): {name: sql_expr}. Every
        write commit (merge, update — copy or DV) re-validates its NEW
        row content against each expression; a violating write FAILS
        (Delta's CHECK semantics — constraints reject writers, unlike
        ``merge(validate_rules=...)`` which filters rows) and SQL CHECK
        NULL semantics apply: only FALSE violates, NULL passes."""
        if self._constraints is not None:
            return self._constraints
        try:
            self._constraints = dict(
                self._manifest().get("constraints") or {}
            )
        except FileNotFoundError:
            return {}
        return self._constraints

    @property
    def column_mapping(self) -> dict:
        """COLUMN MAPPING (table property): {logical_name: physical_name}
        for every column whose on-disk name diverged from its current
        logical name — RENAME/DROP COLUMN are metadata-only commits (no
        file rewritten; Delta's column-mapping mode). Reads translate
        physical->logical at the boundary; writes translate back, so
        data files always use stable physical names."""
        if self._column_mapping is not None:
            return self._column_mapping
        try:
            self._column_mapping = dict(
                self._manifest().get("column_mapping") or {}
            )
        except FileNotFoundError:
            return {}
        return self._column_mapping

    @property
    def dropped_cols(self) -> tuple[str, ...]:
        """Physical names of DROPPED columns (tombstones): old files
        still carry them, so a later schema evolution may not reuse the
        name — unique physical identity is what makes drop metadata-only."""
        if self._dropped_cols is not None:
            return self._dropped_cols
        try:
            self._dropped_cols = tuple(
                self._manifest().get("dropped_cols") or ()
            )
        except FileNotFoundError:
            return ()
        return self._dropped_cols

    @property
    def bloom_cols(self) -> tuple[str, ...]:
        """Point-lookup bloom columns (table property, like
        stats_cols): every commit builds a per-file bloom bitmap for
        each, and equality reads skip files whose bloom rules the value
        out. Use for high-cardinality string/integral columns (url,
        ids) where min/max ranges are too wide to prune."""
        if self._bloom_cols is not None:
            return self._bloom_cols
        try:
            self._bloom_cols = tuple(self._manifest().get("bloom_cols") or ())
        except FileNotFoundError:
            return ()
        return self._bloom_cols

    @property
    def partition_spec(self) -> tuple[dict, ...]:
        """HIDDEN-PARTITIONING spec currently in force (table property):
        the parsed transform fields every write clusters by and records
        per-file partition min/max for. Iceberg's partition spec, held
        in the manifest rather than the directory tree."""
        if self._partition_spec is not None:
            return self._partition_spec
        try:
            self._partition_spec = tuple(
                self._manifest().get("partition_spec") or ()
            )
        except FileNotFoundError:
            return ()
        return self._partition_spec

    @property
    def partition_fields(self) -> dict:
        """ALL partition fields ever written, name -> spec. Spec
        evolution never rewrites files, so pruning must be able to
        interpret the fields an entry was recorded under even after the
        default spec moved on (Iceberg's multi-spec manifest)."""
        if self._partition_fields is not None:
            return self._partition_fields
        try:
            self._partition_fields = dict(
                self._manifest().get("partition_fields") or {}
            )
        except FileNotFoundError:
            return {}
        return self._partition_fields

    def _refresh_props(self, m: dict) -> None:
        """Re-pin this handle's cached table properties to a manifest —
        write attempts call it on the head so a property change by
        ANOTHER handle (rename, new constraint) is never overwritten
        with stale cache on the next commit."""
        self._stats_cols = tuple(m.get("stats_cols") or ())
        self._bloom_cols = tuple(m.get("bloom_cols") or ())
        self._constraints = dict(m.get("constraints") or {})
        self._column_mapping = dict(m.get("column_mapping") or {})
        self._dropped_cols = tuple(m.get("dropped_cols") or ())
        self._partition_spec = tuple(m.get("partition_spec") or ())
        self._partition_fields = dict(m.get("partition_fields") or {})

    def _collect_entries(self, data_dir: str, rel_dir: str) -> list[dict]:
        """Stats + blooms for a freshly-written data directory — the
        one manifest-entry builder every commit path uses.

        Footer fast path: for tables whose keys/stats/partition-source
        cols have footer-faithful types, entries come straight from the
        parquet footers (driver-side metadata reads) instead of a Spark
        stats job — at maintenance-commit grain the stats job was a
        fixed ~0.3-1 s tax per commit re-reading bytes the writer had
        already summarized. Partitioned tables ride the same path:
        files are partition-pure, so the per-field ``pmin``/``pmax``
        is the transform probe of any row value (the footer min), with
        a ``probe(min) == probe(max)`` purity check per file.
        Unsupported types (and any purity doubt) take the scan path
        unchanged. An empty directory (write-first commit of an empty
        result set) yields [] without planning a scan — reading a
        part-less dir would raise UNABLE_TO_INFER_SCHEMA."""
        utc = self.spark.conf.get("spark.sql.session.timeZone", "") == "UTC"
        entries = _footer_file_stats(
            data_dir, self.keys, rel_dir, self.stats_cols,
            part_specs=self.partition_spec, colmap=self.column_mapping,
            utc_session=utc,
        )
        if entries is None:
            has_parquet = any(
                f.endswith(".parquet")
                for _, _, fs in os.walk(data_dir)
                for f in fs
            )
            entries = _file_stats(
                self.spark, data_dir, self.keys, rel_dir, self.stats_cols,
                part_specs=self.partition_spec, colmap=self.column_mapping,
            ) if has_parquet else []
        if self.bloom_cols and entries:
            sc_rel = f"blooms/{uuid.uuid4().hex}"
            written = _write_bloom_sidecar(
                self.spark, data_dir, rel_dir, self.bloom_cols,
                f"{self.root}/{sc_rel}",
            )
            if written:
                # entries carry only the sidecar POINTER; bitmaps stay
                # in the executor-written parquet, loaded lazily at
                # probe time — manifests/checkpoints stay O(files)
                for e in entries:
                    e["bloom_sc"] = sc_rel
        return entries

    def _plan_write(
        self,
        summary: BatchSummary | None,
        entries: list[dict],
        target_files: int,
        cols=(),
        checkpoint: bool = False,
        order: tuple[str, ...] | None = None,
    ) -> WritePlan:
        """The one layout decision for a commit's data write, from the
        batch ``summary`` (None without a batch), the rewritten
        ``entries``, the written frame's ``cols``, ``create``'s opt-in
        ``checkpoint`` and a non-key ``order`` (z-order). First match:

        ========================================  =======  ==========
        input                                     kind     checkpoint
        ========================================  =======  ==========
        ``target_files <= 1``                     single   no
        z-order, a partition spec, a ``__rt``     sampled  see below
        column, or a summary with no multiset
        (overflow box, float/decimal keys)
        no candidate, a key value whose Python    sampled  see below
        order may differ from SQL's, or fewer
        file-end candidates than buckets
        candidates whose bounds come out empty    single   no
        otherwise                                 bounds   no
        ========================================  =======  ==========

        A sampled plan checkpoints iff a summary exists or ``create``
        opted in: ``repartitionByRange``'s sampling pass executes the
        whole child plan before the exchange executes it again, so a
        join lineage (source x affected files) is materialized once
        (measured 1.99 -> 1.51 s, one job fewer), while a scan lineage
        is cheaper to re-scan than to cache (1.14 -> 1.28 s).

        A bounds plan drops the sampling job and runs the lineage once.
        Candidates: the batch's exact key multiset, plus each rewritten
        entry's END key weighted by its rows (files are range-clustered
        and disjoint, so that is the CDF step); a single int key also
        interpolates interior points, so bounds can split inside a wide
        file. Partition transforms are not derivable on the driver, and
        the router needs ``__rt`` for itself."""
        order = tuple(order or self.keys)

        def sampled() -> WritePlan:
            return WritePlan(
                "sampled", target_files, order=order,
                checkpoint=summary is not None or checkpoint,
            )

        if target_files <= 1:
            return WritePlan("single", 1, order=order)
        multiset = [] if summary is None else summary.multiset
        if (
            order != self.keys or self.partition_spec or "__rt" in cols
            or multiset is None
        ):
            return sampled()
        keys = self.keys

        def safe(kt) -> bool:
            return all(
                v is None or isinstance(v, _BOUNDS_SAFE_TYPES) for v in kt
            )

        try:
            interp = bool(entries) and len(keys) == 1 and all(
                isinstance(e["min"].get(keys[0]), int)
                and isinstance(e["max"].get(keys[0]), int)
                and not isinstance(e["min"].get(keys[0]), bool)
                for e in entries
            )
            cands = [(kt, float(cnt)) for kt, cnt in multiset]
            ends = [tuple(e["max"].get(k) for k in keys) for e in entries]
            if not all(safe(kt) for kt, _ in cands) or not all(
                safe(hi) for hi in ends
            ):
                return sampled()
            for e, hi in zip(entries, ends):
                w = float(e.get("rows") or 0)
                if w <= 0:
                    continue
                if interp:
                    lo_v, hi_v = e["min"][keys[0]], e["max"][keys[0]]
                    pts = sorted(
                        {
                            lo_v + round((hi_v - lo_v) * i / 7)
                            for i in range(1, 8)
                        }
                    )
                    cands += [((p,), w / len(pts)) for p in pts]
                else:
                    cands.append((hi, w))
            if not cands or (
                not multiset and not interp and len(entries) < target_files
            ):
                # pure file-end candidates can't split inside a file:
                # fewer files than buckets would collapse the layout —
                # let the sampler keep target sizing
                return sampled()
            bounds = _determine_bounds(cands, target_files)
        except (TypeError, KeyError):
            return sampled()  # mixed/unorderable stat types
        if not bounds:
            return WritePlan("single", 1, order=order)
        return WritePlan("bounds", len(bounds) + 1, tuple(bounds), order)

    def _route_expr(self, phys_df: DataFrame, bounds: tuple[tuple, ...]):
        """Partition-routing column for a bounds-driven clustered write:
        rows compare against the driver-derived bounds (ascending,
        NULLs first — RangePartitioner's ordering) to get a bucket id,
        and the bucket id maps through its inverse-hash slot so the
        following hash ``repartition(n, route)`` places bucket j on
        partition j exactly. Deterministic in the row's key values, so
        fetch-failure replays reproduce the assignment (guide §2.5)."""
        keys = list(self.keys)
        dtypes = {f.name: f.dataType for f in phys_df.schema.fields}
        slots = _hash_route_slots(len(bounds) + 1)

        def lit_of(v, k):
            return (
                F.lit(v) if v is not None else F.lit(None)
            ).cast(dtypes[k])

        if len(keys) == 1:
            k = keys[0]
            col = F.col(k)

            def le(b):
                return F.coalesce(col <= lit_of(b[0], k), F.lit(False))

            head = col.isNull() | le(bounds[0])
        else:
            sk = F.struct(*[F.col(k).alias(k) for k in keys])

            def le(b):
                blit = F.struct(
                    *[lit_of(v, k).alias(k) for k, v in zip(keys, b)]
                )
                return F.coalesce(sk <= blit, F.lit(False))

            head = F.col(keys[0]).isNull() | le(bounds[0])
        w = F.when(head, F.lit(slots[0]))
        for i in range(1, len(bounds)):
            w = w.when(le(bounds[i]), F.lit(slots[i]))
        return w.otherwise(F.lit(slots[len(bounds)]))

    def _write(
        self, phys_df: DataFrame, plan: WritePlan
    ) -> tuple[str, list[dict]]:
        """The one data-file writer every commit path uses: write
        ``phys_df`` as ``plan`` says into a commit-unique ``data/c<id>``
        directory (concurrent attempts never collide; a losing or
        crashed one leaves only an orphan for vacuum) and return (that
        directory, its manifest entries). No emptiness probe: an empty
        frame writes no part files and yields no entries.

        Bounds: each row's bucket comes from comparing against the
        bounds, and a hash exchange on the bucket's inverse-hash slot
        places bucket j on partition j. Single/sampled: range-partition
        on (partition transforms, ``plan.order``); a non-key order is a
        derived column (``__z``), also sorted within files and dropped.
        A partition spec writes through ``partitionBy`` on ``__p_*``
        columns, so files are PARTITION-PURE (Iceberg's write
        distribution: pruning is exact at every boundary); the
        ``__p_*`` columns exist only in the directory layout."""
        rel_dir = f"data/c{uuid.uuid4().hex[:12]}"
        data_dir = f"{self.root}/{rel_dir}"
        if plan.checkpoint:
            phys_df = phys_df.localCheckpoint(eager=False)
        pcols: list[str] = []
        colmap = self.column_mapping
        for s in self.partition_spec:
            phys = colmap.get(s["col"], s["col"])
            if phys in phys_df.columns:
                pc = f"__p_{s['name']}"
                phys_df = phys_df.withColumn(
                    pc,
                    _partition_field_expr(
                        s, phys, phys_df.schema[phys].dataType
                    ),
                )
                pcols.append(pc)
        if plan.kind == "bounds":
            out = (
                phys_df.withColumn(
                    "__rt", self._route_expr(phys_df, plan.bounds)
                )
                .repartition(plan.n, F.col("__rt"))
                .drop("__rt")
            )
        else:
            out = phys_df.repartitionByRange(
                plan.n, *[F.col(c) for c in (*pcols, *plan.order)]
            )
            if plan.order != self.keys:
                out = out.sortWithinPartitions(*pcols, *plan.order).drop(
                    *plan.order
                )
        writer = out.write.mode("error")
        if pcols:
            writer = writer.partitionBy(*pcols)
        writer.parquet(data_dir)
        return data_dir, self._collect_entries(data_dir, rel_dir)

    # -- bootstrap ----------------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        df: DataFrame,
        keys: tuple[str, ...] = DEFAULT_MERGE_KEYS,
        target_files: int = 8,
        stats_cols: tuple[str, ...] = (),
        bloom_cols: tuple[str, ...] = (),
        partition_by: tuple[str, ...] = (),
        txn: tuple[str, int] | None = None,
        checkpoint: bool = False,
    ) -> "CowTable":
        """Initialize version 1: range-cluster the data on the merge key
        (so per-file key ranges are tight and file skipping bites) and
        write the first manifest. ``stats_cols`` become a TABLE PROPERTY:
        every commit collects per-file min/max/null stats for them, and
        ``read_where`` uses those stats to skip files — Delta-style
        data skipping for numeric/string predicate columns.

        ``txn`` records an idempotency token (app, version) in the v1
        manifest — Delta's txnAppId/txnVersion on the CREATING write —
        so an at-least-once stream that crashes between create and its
        follow-up merge can replay the batch and have the merge's fence
        skip work the create already landed (see apply_changes'
        tombstone-store bootstrap)."""
        t = cls(
            spark, root, keys,
            stats_cols=tuple(stats_cols), bloom_cols=tuple(bloom_cols),
            partition_by=tuple(partition_by),
        )
        _check_bloom_types(df.schema, t.bloom_cols)
        for s in t.partition_spec:
            if s["col"] not in df.columns:
                raise ValueError(
                    f"partition transform references unknown column "
                    f"{s['col']!r} (have: {df.columns})"
                )
            # type gate now, not at first write
            _partition_field_expr(s, s["col"], df.schema[s["col"]].dataType)
        os.makedirs(f"{t.root}/manifests", exist_ok=True)
        # a UNIQUE dir per attempt, like every later commit: a
        # writer that crashes between the data write and the v1
        # manifest link leaves an unreferenced orphan dir (swept
        # age-gated by vacuum), and the RETRY writes a fresh dir
        # instead of failing on the husk for the whole retention
        # window — an at-least-once stream that bootstraps a side
        # table (apply_changes' tombstone store) replays cleanly.
        # checkpoint=True: callers whose df lineage is expensive
        # (tokenize/aggregate/GEMM pipelines) opt in so the range
        # sample doesn't execute that lineage a second time
        _, entries = t._write(
            df, t._plan_write(None, [], target_files, checkpoint=checkpoint)
        )
        # an EMPTY create initializes a zero-file snapshot (the schema in
        # the manifest keeps it readable) — the streaming-ingest path
        # starts from this and lets micro-batch merges populate it
        t._commit(
            1, entries, op="create", schema_json=df.schema.json(), txn=txn
        )
        return t

    # -- manifest plumbing --------------------------------------------------

    def _pointer(self) -> int:
        try:
            with open(f"{self.root}/VERSION") as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    @property
    def version(self) -> int:
        """Latest COMMITTED version. The pointer file is a hint that
        bounds the scan; a manifest linked by a writer that died before
        its pointer swap is still committed (the manifest link is the
        commit point), so roll forward past the pointer — this is the
        crash recovery every reader/writer performs implicitly."""
        v = self._pointer()
        while os.path.exists(f"{self.root}/manifests/v{v + 1}.json"):
            v += 1
        return v

    def _abs(self, path: str) -> str:
        """Absolute data-file path for a manifest entry. Entries are
        root-relative for files this table owns; shallow CLONEs record
        ABSOLUTE paths into the source table's files (zero-copy branch
        — Delta shallow-clone semantics, including the caveat: vacuum
        on the SOURCE can orphan a clone, while the clone's own vacuum
        never touches external files)."""
        return path if path.startswith("/") else f"{self.root}/{path}"

    def _sidecar_blooms(self, sc: str, col: str) -> dict:
        """Lazy-load one (sidecar, column) bloom slice:
        {entry_path: {"b64","bits","hashes"}}. The driver reads only
        the probed column's rows of one commit's sidecar parquet —
        O(files in that commit) transient bytes, never resident in the
        manifest — and caches the slice (sidecars are immutable).
        A vacuumed/missing sidecar degrades to {} (no pruning, still
        exact: absent bloom = conservative keep)."""
        key = (sc, col)
        got = self._bloom_cache.get(key)
        if got is not None:
            return got
        import pyarrow.parquet as pq

        out: dict = {}
        try:
            t = pq.read_table(
                self._abs(sc), filters=[("col", "==", col)]
            )
            for path, b64, bits, hashes in zip(
                t.column("path").to_pylist(),
                t.column("b64").to_pylist(),
                t.column("bits").to_pylist(),
                t.column("hashes").to_pylist(),
            ):
                out[path] = {"b64": b64, "bits": bits, "hashes": hashes}
        except (OSError, FileNotFoundError, ValueError):
            out = {}
        if len(self._bloom_cache) >= 64:  # bound driver-resident slices
            self._bloom_cache.clear()
        self._bloom_cache[key] = out
        return out

    def _bloom_rec(self, e: dict, col: str) -> dict | None:
        """Bloom record for (entry, col): inline legacy entries first
        (pre-sidecar manifests carried the bitmap in the entry), then
        the entry's sidecar slice. None = no bitmap (never built,
        saturated-dropped, or sidecar vacuumed) — callers keep the
        file."""
        rec = (e.get("bloom") or {}).get(col)
        if rec is not None:
            if isinstance(rec, str):  # legacy fixed-geometry entry
                return {
                    "b64": rec, "bits": BLOOM_BITS, "hashes": BLOOM_HASHES
                }
            return rec
        sc = e.get("bloom_sc")
        if not sc:
            return None
        slice_ = self._sidecar_blooms(sc, col)
        rec = slice_.get(e["path"])
        if rec is None and e["path"].startswith("/"):
            # shallow CLONE: entry paths were absolutized against the
            # SOURCE root but the sidecar keys stayed source-relative
            src_root = self._abs(sc).rsplit("/blooms/", 1)[0]
            rec = slice_.get(e["path"].removeprefix(src_root + "/"))
        return rec

    def _raw_manifest(self, version: int) -> dict:
        with open(f"{self.root}/manifests/v{version}.json") as f:
            return json.load(f)

    def _manifest(self, version: int | None = None) -> dict:
        """RESOLVED manifest for ``version``: always carries the full
        ``files`` list. On disk a commit is either a CHECKPOINT (full
        file list — every ``checkpoint_interval``-th version, v1, and
        any ``v<N>.checkpoint.json`` side file vacuum materialized) or
        an incremental SEGMENT (``base``/``add``/``remove`` — O(files
        changed) bytes, the Delta `_last_checkpoint` pattern). Segments
        resolve by walking to the nearest checkpoint and replaying;
        resolution is cached per handle (manifests are immutable)."""
        v = self.version if version is None else version
        got = self._resolved.get(v)
        if got is not None:
            return got
        cp_path = f"{self.root}/manifests/v{v}.checkpoint.json"
        if os.path.exists(cp_path):
            with open(cp_path) as f:
                m = json.load(f)
        else:
            raw = self._raw_manifest(v)
            if "files" in raw:
                m = raw
            else:
                base = self._manifest(raw["base"])
                # an "add" may REPLACE a base entry at the same path (a
                # deletion-vector attach changes entry content without
                # renaming the data file) — drop the base entry then
                removed = set(raw["remove"]) | {
                    e["path"] for e in raw["add"]
                }
                files = [
                    e for e in base["files"] if e["path"] not in removed
                ] + raw["add"]
                m = {
                    k: raw[k]
                    for k in raw
                    if k not in ("base", "add", "remove")
                }
                m["files"] = sorted(files, key=lambda e: e["path"])
        unknown = set(m.get("reader_features") or ()) - READER_FEATURES
        if unknown:
            raise ValueError(
                f"table {self.root} version {v} requires reader features "
                f"{sorted(unknown)} this engine does not implement; "
                "upgrade before reading (refusing beats silently wrong "
                "results)"
            )
        self._resolved[v] = m
        return m

    def _write_checkpoint(self, version: int) -> None:
        """Materialize ``version``'s full file list as a side file so
        the segment chain BEHIND it can be dropped (vacuum) without
        breaking resolution. Idempotent and crash-safe: content is a
        pure function of the immutable commit, written tmp + rename."""
        cp_path = f"{self.root}/manifests/v{version}.checkpoint.json"
        if os.path.exists(cp_path):
            return
        m = self._manifest(version)
        tmp = f"{self.root}/manifests/.tmp.{uuid.uuid4().hex}.json"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1, default=str)
        os.replace(tmp, cp_path)

    def _commit(
        self, version: int, entries: list[dict], op: str,
        schema_json: str | None = None,
        txn: tuple[str, int] | None = None,
        zorder_clamp: dict | None = None,
    ) -> None:
        """Claim version slot ``version`` by exclusive-create of its
        manifest. The manifest is fully written to a temp file first and
        ``os.link``ed into place, so (a) a manifest path either doesn't
        exist or is complete — never half-written — and (b) exactly ONE
        writer can claim a slot; every other concurrent committer of the
        same slot gets ``CommitConflict`` and must rebase + retry.

        METADATA SCALE: only v1 and every ``checkpoint_interval``-th
        version write the full file list; every other commit writes an
        incremental segment (add/remove vs the parent), so commit bytes
        are O(files changed by this commit) — a merge that rewrites 3
        of 100k files writes 3 entries + the dropped paths, not 100k
        entries. Resolution replays ≤ interval segments (cached)."""
        import time

        parent_txns: dict = {}
        if version > 1:
            parent = self._manifest(version - 1)
            if schema_json is None:
                schema_json = parent.get("schema")
            parent_txns = dict(parent.get("txns") or {})
            if zorder_clamp is None:
                # clustering-drift state outlives unrelated commits:
                # maintain() reads it to decide re-tightening
                zorder_clamp = parent.get("zorder_clamp")
        if txn is not None:
            parent_txns[txn[0]] = max(
                int(txn[1]), int(parent_txns.get(txn[0], txn[1]))
            )
        manifest: dict = {
            "version": version,
            "operation": op,
            "committed_at": time.time(),
            "keys": list(self.keys),
            "stats_cols": list(self.stats_cols),
            "bloom_cols": list(self.bloom_cols),
            "constraints": dict(self.constraints),
            "column_mapping": dict(self.column_mapping),
            "dropped_cols": list(self.dropped_cols),
            "partition_spec": [dict(s) for s in self.partition_spec],
            "partition_fields": {
                n: dict(s) for n, s in self.partition_fields.items()
            },
            "schema": schema_json,
            "txns": parent_txns,
            "rows": sum(e["rows"] for e in entries),
            "reader_features": sorted(
                ({"dv"} if any(e.get("dv") for e in entries) else set())
                | (
                    {"column_mapping"}
                    if self.column_mapping or self.dropped_cols
                    else set()
                )
            ),
        }
        if zorder_clamp is not None:
            manifest["zorder_clamp"] = zorder_clamp
        # does this snapshot reference any file OUTSIDE this root
        # (a shallow clone's zero-copy branch point)? Recorded on every
        # commit so catalog-level scans (clone-protected vacuum) can
        # skip local-only manifests from the raw JSON — one key read
        # instead of resolving O(files) entries per version. Computed
        # from the FULL entry list, so segments carry it too.
        manifest["external_refs"] = any(
            e["path"].startswith("/")
            or ((e.get("dv") or {}).get("path") or "").startswith("/")
            or (e.get("bloom_sc") or "").startswith("/")
            for e in entries
        )
        if version == 1 or version % self.checkpoint_interval == 0:
            manifest["files"] = entries
        else:
            parent = {
                e["path"]: e for e in self._manifest(version - 1)["files"]
            }
            curr = {e["path"]: e for e in entries}
            manifest["base"] = version - 1
            # changed-in-place entries (same path, new content — e.g. a
            # deletion vector attached) ship as adds; resolution treats
            # an added path as replacing the base entry
            manifest["add"] = [
                e
                for p, e in sorted(curr.items())
                if p not in parent or parent[p] != e
            ]
            manifest["remove"] = sorted(p for p in parent if p not in curr)
        mpath = f"{self.root}/manifests/v{version}.json"
        tmp = f"{self.root}/manifests/.tmp.{uuid.uuid4().hex}.json"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, default=str)
        try:
            os.link(tmp, mpath)  # atomic exclusive claim of the slot
        except FileExistsError:
            raise CommitConflict(
                f"version {version} of {self.root} was committed by a "
                "concurrent writer; rebase against the new snapshot and retry"
            ) from None
        finally:
            os.remove(tmp)
        self._resolved.pop(version, None)  # (paranoia: never pre-cached)
        self._advance_pointer(version)

    def _advance_pointer(self, version: int) -> None:
        """Refresh the reader-convenience pointer, never moving it
        backward (a racing pointer write for an OLDER committed version
        must not shadow a newer one; even if interleaving leaves the
        pointer stale, ``version`` rolls forward past it)."""
        if self._pointer() >= version:
            return
        tmp = f"{self.root}/.VERSION.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, f"{self.root}/VERSION")

    def _commit_metadata(self, op: str, derive) -> tuple[int, dict]:
        """The commit loop of every metadata-only op (no data file is
        written, so a lost version slot costs nothing to redo). Each
        attempt re-reads the head and re-pins this handle's cached
        properties to it, then ``derive(head)`` applies the op's change
        to those properties and returns the new snapshot's
        ``(files, schema_json)``; a CommitConflict re-derives against
        the new head. Deriving once outside the loop would silently
        revert a concurrent writer's change (a lost update). Returns
        (the version THIS commit claimed, the head it derived from) —
        never the shared head pointer, which a concurrent writer may
        already have advanced (a catalog transaction pins the returned
        version; leaking the head would publish someone else's
        unpublished commit)."""
        while True:
            m = self._manifest()
            self._refresh_props(m)
            files, schema_json = derive(m)
            try:
                self._commit(
                    m["version"] + 1, files, op=op, schema_json=schema_json
                )
                return m["version"] + 1, m
            except CommitConflict:
                continue

    def _manifest_names(self) -> list[str]:
        """Committed manifest filenames only: a writer that died between
        tmp write and link can leave a ``.tmp.*.json`` behind — never a
        commit, never read."""
        import re

        return sorted(
            n
            for n in os.listdir(f"{self.root}/manifests")
            if re.fullmatch(r"v\d+\.json", n)
        )

    def describe(self, version: int | None = None) -> dict:
        """DESCRIBE DETAIL: the operational facts an unattended
        maintenance loop keys off — current version/operation/time,
        file count + row count + on-disk bytes, row skew across files
        (min/max/avg rows per file — the compaction trigger), and how
        many historical versions vacuum could reclaim. Metadata-only:
        reads manifests and file sizes, never data."""
        m = self._manifest(version)
        sizes = [
            os.path.getsize(self._abs(e['path']))
            for e in m["files"]
            if os.path.exists(self._abs(e['path']))
        ]
        rows = [e["rows"] for e in m["files"]]
        return {
            "version": m["version"],
            "operation": m["operation"],
            "committed_at": m.get("committed_at"),
            "keys": list(self.keys),
            "num_files": len(m["files"]),
            "partition_spec": [
                s["name"] for s in (m.get("partition_spec") or ())
            ],
            "rows": m["rows"],
            "size_bytes": sum(sizes),
            "min_file_rows": min(rows) if rows else 0,
            "max_file_rows": max(rows) if rows else 0,
            "avg_file_rows": (sum(rows) / len(rows)) if rows else 0.0,
            "num_versions": len(self._manifest_names()),
        }

    def files_df(self, version: int | None = None) -> DataFrame:
        """METADATA TABLE (Delta/Iceberg ``table.files``): one row per
        live data file of the snapshot — path, rows, on-disk bytes,
        merge-key bounds, hidden-partition field values, and whether a
        deletion vector is attached. Driver-side O(files) straight off
        the resolved manifest (the same metadata every read already
        materializes), so inspection queries never scan data."""
        m = self._manifest(version)
        rows = []
        for e in m["files"]:
            part = e.get("part") or {}
            p = self._abs(e["path"])
            rows.append((
                e["path"],
                int(e["rows"]),
                int(os.path.getsize(p)) if os.path.exists(p) else None,
                {k: None if v is None else str(v)
                 for k, v in (e.get("min") or {}).items()},
                {k: None if v is None else str(v)
                 for k, v in (e.get("max") or {}).items()},
                {n: None if lo is None else str(lo)
                 for n, (lo, hi) in part.items() if lo == hi},
                bool(e.get("dv")),
            ))
        # local rows through a PANDAS frame (Arrow -> LocalTableScan):
        # actions on the metadata table run driver-side; the plain
        # list createDataFrame is RDD-backed and costs ~0.7 s PER
        # ACTION on local[32] (measured; schema/data equality incl.
        # None-valued map entries pinned by test). NOTE: one missing
        # file makes size_bytes a float64 NaN column in pandas, so
        # other sizes round-trip through float64 before the int64
        # cast — exact below 2^53, the practical bound for file sizes
        import pandas as _pd

        return self.spark.createDataFrame(
            _pd.DataFrame(
                rows,
                columns=[
                    "path", "rows", "size_bytes", "min_key",
                    "max_key", "partition", "has_dv",
                ],
            ),
            "path string, rows bigint, size_bytes bigint, "
            "min_key map<string,string>, max_key map<string,string>, "
            "partition map<string,string>, has_dv boolean",
        )

    def partitions_df(self, version: int | None = None) -> DataFrame:
        """METADATA TABLE (Iceberg ``table.partitions``): per-partition
        file and row counts, straight off the manifest's per-file
        partition fields — no data scan. A file whose recorded min/max
        for a field differ (it spans partition boundaries) reports NULL
        for that field, so sums over this table always equal the table's
        totals. Fields are every partition field live in the snapshot
        (multi-spec after evolution)."""
        m = self._manifest(version)
        fields = sorted({
            n for e in m["files"] for n in (e.get("part") or {})
        })
        agg: dict[tuple, list[int]] = {}
        for e in m["files"]:
            part = e.get("part") or {}
            key = tuple(
                str(part[n][0])
                if n in part
                and part[n][0] is not None
                and part[n][0] == part[n][1]
                else None
                for n in fields
            )
            a = agg.setdefault(key, [0, 0])
            a[0] += 1
            a[1] += int(e["rows"])
        rows = [
            (dict(zip(fields, k)), int(nf), int(nr))
            for k, (nf, nr) in sorted(agg.items(), key=lambda kv: str(kv[0]))
        ]
        # pandas -> Arrow -> LocalTableScan, same reason as files_df
        import pandas as _pd

        return self.spark.createDataFrame(
            _pd.DataFrame(
                rows, columns=["partition", "num_files", "rows"]
            ),
            "partition map<string,string>, num_files bigint, rows bigint",
        )

    def history(self) -> list[dict]:
        out = []
        for name in self._manifest_names():
            with open(f"{self.root}/manifests/{name}") as f:
                m = json.load(f)
            out.append({k: m[k] for k in ("version", "operation", "rows")})
        return sorted(out, key=lambda m: m["version"])

    # -- reads --------------------------------------------------------------

    def _schema(self, m: dict):
        from pyspark.sql import types as T

        return (
            T.StructType.fromJson(json.loads(m["schema"]))
            if m.get("schema")
            else None
        )

    @staticmethod
    def _with_position(df) -> DataFrame:
        """Tag each row with its (file identity, row index) physical
        coordinates — the system deletion vectors live in. Identity is
        the path AFTER ``/data/`` (commit dir + any ``__p_*`` partition
        subdirs + part file): bare basenames stopped being unique when
        partition-pure writes arrived (one task writes the same
        part-NNNNN name into every partition dir it touches), while the
        data-relative path is unique across commit dirs AND stable
        across table roots (clones reference files absolutely)."""
        return df.select(
            "*",
            # greedy ^.* pins the LAST /data/ segment (the table's data
            # root — partition dirs URL-escape slashes, commit dirs are
            # uuid-hex, so neither can contain one), matching _data_rel
            F.regexp_extract(
                F.col("_metadata.file_path"), "^.*/data/(.+)$", 1
            ).alias("__dv_file"),
            F.col("_metadata.row_index").alias("__dv_pos"),
        )

    def _dv_positions(self, entries: list[dict]) -> DataFrame | None:
        """(file, pos) rows of every deletion vector the given entries
        reference — the union is safe because an older DV for a file is
        always a subset of a newer one (cumulative) and basenames of
        rewritten files never repeat."""
        dirs = sorted(
            {self._abs(e["dv"]["path"]) for e in entries if e.get("dv")}
        )
        if not dirs:
            return None
        return self.spark.read.parquet(*dirs).select("file", "pos")

    def _dv_hint(
        self,
        pos: DataFrame,
        entries: list[dict],
        dead_rows: int | None = None,
    ) -> DataFrame:
        """Broadcast the (file, pos) DV relation only when the
        manifest's recorded deleted-row counts prove it small
        (metadata-only decision); past DV_BROADCAST_MAX_ROWS the
        anti-join shuffles instead of forcing an oversized broadcast
        on every read of a delete-heavy merge-on-read table.
        ``dead_rows`` overrides the entry fold when the caller joins a
        SUBSET of the recorded positions (e.g. the change feed's
        newly-dead delta)."""
        dead = dead_rows if dead_rows is not None else sum(
            (e.get("dv") or {}).get("deleted", 0) for e in entries
        )
        return F.broadcast(pos) if dead <= DV_BROADCAST_MAX_ROWS else pos

    def _physical_schema(self, m: dict):
        """(physical read schema, logical field names): data files use
        STABLE physical column names; the manifest schema is logical.
        With an empty mapping both are identical (the common case)."""
        from pyspark.sql import types as T

        schema = self._schema(m)
        mapping = m.get("column_mapping") or {}
        if schema is None or not mapping:
            return schema, None
        phys = T.StructType(
            [
                T.StructField(
                    mapping.get(f.name, f.name), f.dataType, f.nullable
                )
                for f in schema.fields
            ]
        )
        return phys, [f.name for f in schema.fields]

    @staticmethod
    def _to_logical(df: DataFrame, phys_schema, logical_names):
        """Physical->logical rename at the read boundary (positional:
        the physical schema was built from the logical fields in order).
        Helper columns (``__dv_*``) pass through untouched."""
        if logical_names is None:
            return df
        sel = [
            F.col(f.name).alias(ln)
            for f, ln in zip(phys_schema.fields, logical_names)
        ] + [F.col(c) for c in df.columns if c.startswith("__dv_")]
        return df.select(*sel)

    def _to_physical(self, df: DataFrame) -> DataFrame:
        """Logical->physical rename at the write boundary."""
        mapping = self.column_mapping
        if not mapping:
            return df
        return df.select(
            *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
        )

    def _scan(
        self, paths: list[str], m: dict, positions: bool = False
    ) -> DataFrame:
        """Raw scan of data files under snapshot ``m``'s schema, in
        LOGICAL column names — deletion vectors are NOT applied.
        ``positions`` adds each row's physical identity
        (``__dv_file``/``__dv_pos``, see :meth:`_with_position`)."""
        phys, logical = self._physical_schema(m)
        reader = self.spark.read
        if phys is not None:
            reader = reader.schema(phys)
        df = reader.parquet(*paths)
        if positions:
            df = self._with_position(df)
        return self._to_logical(df, phys, logical)

    def _read_entries(self, entries: list[dict], m: dict) -> DataFrame:
        """LIVE rows of the given manifest entries: plain files scan
        directly; files carrying a deletion vector scan with their
        physical row identity and anti-join the DV's (file, pos) set —
        merge-on-read, Delta's deletion-vector contract. The DV side is
        tiny by design (small deletes; compaction materializes), so the
        anti-join broadcasts. Output columns are always LOGICAL names
        (column mapping resolves physical file names at this boundary)."""
        schema = self._schema(m)
        if not entries:
            return self.spark.createDataFrame([], schema)
        phys, logical = self._physical_schema(m)
        reader = self.spark.read
        if phys is not None:
            reader = reader.schema(phys)
        plain = [e for e in entries if not e.get("dv")]
        dved = [e for e in entries if e.get("dv")]
        parts = []
        if plain:
            parts.append(
                self._to_logical(
                    reader.parquet(*[self._abs(e["path"]) for e in plain]),
                    phys, logical,
                )
            )
        if dved:
            raw = self._with_position(
                reader.parquet(*[self._abs(e["path"]) for e in dved])
            )
            pos = self._dv_hint(self._dv_positions(dved), dved)
            live = raw.join(
                pos,
                (raw["__dv_file"] == pos["file"])
                & (raw["__dv_pos"] == pos["pos"]),
                "left_anti",
            ).drop("__dv_file", "__dv_pos")
            parts.append(self._to_logical(live, phys, logical))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read(
        self, version: int | None = None, as_of: float | None = None
    ) -> DataFrame:
        """Snapshot read (time travel with ``version``, or ``as_of`` an
        epoch-seconds timestamp picking the newest commit at or before
        it): exactly the files the manifest lists (minus deletion-vector
        rows), nothing else. The read is pinned to the MANIFEST's
        schema, so snapshots whose files predate a schema evolution
        still read uniformly — parquet resolves columns by name and
        fills absent ones with NULL. A zero-file snapshot reads as an
        empty frame with that schema."""
        if as_of is not None:
            if version is not None:
                raise ValueError("pass version OR as_of, not both")
            version = self.version_as_of(as_of)
        m = self._manifest(version)
        return self._read_entries(m["files"], m)

    def version_as_of(self, ts: float) -> int:
        """Newest committed version whose commit time is <= ``ts``."""
        best = None
        for name in self._manifest_names():
            with open(f"{self.root}/manifests/{name}") as f:
                m = json.load(f)
            at = m.get("committed_at")
            if at is not None and float(at) <= ts:
                if best is None or m["version"] > best:
                    best = m["version"]
        if best is None:
            raise ValueError(f"no commit at or before {ts}")
        return best

    # -- pruned reads (manifest data skipping) ------------------------------

    def _col_bounds(self, e: dict, c: str) -> tuple | None:
        """File ``e``'s (min, max) for column ``c``: the key range for a
        merge key, the recorded ``stats`` otherwise. None = no stats for
        ``c`` in this file (pre-stats history, a column added later);
        (None, None) = every value of ``c`` in the file is NULL."""
        if c in self.keys:
            return e["min"].get(c), e["max"].get(c)
        st = (e.get("stats") or {}).get(c)
        return None if st is None else (st.get("min"), st.get("max"))

    def _bloom_admits(self, e: dict, c: str, values) -> bool:
        """False only when file ``e``'s bloom for ``c`` rules out every
        one of ``values`` (str/int, see ``_bloom_probeable``); a file
        without a bitmap is kept."""
        rec = self._bloom_rec(e, c)
        if rec is None:
            return True  # no bloom recorded (or saturated-dropped)
        bits = base64.b64decode(rec["b64"])
        n_bits, n_hashes = int(rec["bits"]), int(rec["hashes"])
        return any(
            all(
                (bits[i >> 3] >> (i & 7)) & 1
                for i in _bloom_point_bits(v, n_bits, n_hashes)
            )
            for v in values
        )

    def _admits(
        self, e: dict, c: str, lo=None, hi=None, vals: list | None = None,
        bloom: bool = False,
    ) -> bool:
        """The one per-column file admission test of every pruned read:
        can file ``e`` hold a ``c`` value in ``[lo, hi]`` (either side
        None = unbounded) or, given ``vals`` (sorted, no NULLs), equal to
        one of them? A file without stats for ``c`` is kept; an
        all-NULL file is skipped (NULL matches no range or equality);
        bounds that cannot be ordered against the probe (a string dim
        over a long column) keep the file, the residual filter decides.
        ``bloom`` also probes ``c``'s per-file bloom with ``vals``."""
        b = self._col_bounds(e, c)
        if b is not None:
            fmin, fmax = b
            if fmin is None and fmax is None:
                return False
            try:
                if vals is not None:
                    i = bisect_left(vals, fmin)
                    if i >= len(vals) or vals[i] > fmax:
                        return False
                elif (lo is not None and fmax is not None and fmax < lo) or (
                    hi is not None and fmin is not None and fmin > hi
                ):
                    return False
            except TypeError:
                pass  # mixed types: keep conservatively
        return not bloom or self._bloom_admits(e, c, vals)

    def pruned_entries(self, values, version: int | None = None) -> list:
        """The manifest entries :meth:`read_pruned` scans for ``keys[0]
        IN values``: files whose recorded keys[0] range can contain one
        of the values, or that may hold NULL keys when NULL is asked
        for. Their ``rows`` bound the read's size without a scan."""
        m = self._manifest(version)
        k0 = self.keys[0]
        want_null = any(v is None for v in values)
        probe = sorted({v for v in values if v is not None})
        picked = []
        for e in m["files"]:
            hit = bool(probe) and self._admits(e, k0, vals=probe)
            if not hit and want_null:
                nk = e.get("null_keys")
                hit = nk is None or bool(nk.get(k0))
            if hit:
                picked.append(e)
        return picked

    def read_pruned(self, values, version: int | None = None) -> DataFrame:
        """Manifest-pruned snapshot read for ``keys[0] IN values`` (the
        reference's per-provider access pattern): only the files of
        :meth:`pruned_entries` enter the scan's file index; every other
        file is never listed, opened, or read. This is the reader-side
        dividend of the same per-file stats the MERGE uses for
        skipping. A residual ``IN`` filter (:func:`_key_in`) keeps the
        result exact regardless of pruning. A caller that collects the
        rows to the driver anyway reads them with :meth:`read_arrow`,
        which runs no Spark job."""
        version = self.version if version is None else version
        m = self._manifest(version)
        k0 = self.keys[0]
        want_null = any(v is None for v in values)
        vals = [v for v in values if v is not None]
        picked = self.pruned_entries(values, version)
        cond = _key_in(k0, vals)
        if want_null:
            cond = cond | F.col(k0).isNull()
        return self._read_entries(picked, m).filter(cond)

    def read_arrow(self, columns, values=None, version: int | None = None):
        """``read_pruned(values, version).select(columns).toArrow()``
        (``read(version)`` when ``values`` is None) read on the driver
        with ``pyarrow.parquet``: no Spark job, no py4j call. It opens
        exactly the files of :meth:`pruned_entries` (every file without
        ``values``) and keeps :meth:`_read_entries`' semantics: physical
        names resolve through the manifest's column mapping; every
        column takes the Arrow type of its manifest type
        (``to_arrow_type``, as ``toArrow`` does), so a file from before
        ``add_column`` reads NULLs and narrower widths cast up; the
        ``(file, pos)`` rows of an entry's deletion vector drop those
        row positions; and the residual ``keys[0] IN values`` matches a
        NULL key only when None is asked for. Rows come in manifest
        file order; ``toArrow`` gives no order either."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_type

        version = self.version if version is None else version
        m = self._manifest(version)
        schema = self._schema(m)
        mapping = m.get("column_mapping") or {}
        k0 = self.keys[0]
        cols = list(columns)
        names = cols if values is None or k0 in cols else [*cols, k0]
        phys = [mapping.get(c, c) for c in names]
        out_schema = pa.schema(
            [(c, to_arrow_type(schema[c].dataType)) for c in names]
        )
        entries = (
            m["files"] if values is None
            else self.pruned_entries(values, version)
        )
        dvs: dict[str, pa.Table] = {}
        parts = []
        for e in entries:
            pf = pq.ParquetFile(
                self._abs(e["path"]), coerce_int96_timestamp_unit="us"
            )
            n = pf.metadata.num_rows
            have = set(pf.schema_arrow.names)
            t = pf.read(columns=[p for p in phys if p in have])
            part = pa.Table.from_arrays(
                [
                    t.column(p).cast(f.type) if p in have
                    else pa.nulls(n, f.type)
                    for p, f in zip(phys, out_schema)
                ],
                schema=out_schema,
            )
            if e.get("dv"):
                d = self._abs(e["dv"]["path"])
                if d not in dvs:
                    dvs[d] = pq.read_table(d, columns=["file", "pos"])
                dv = dvs[d]
                dead = dv.filter(
                    pc.equal(dv["file"], _data_rel(e["path"]))
                )["pos"]
                live = np.ones(n, dtype=bool)
                live[dead.to_numpy()] = False
                part = part.filter(live)
            parts.append(part)
        out = pa.concat_tables(parts) if parts else out_schema.empty_table()
        if values is not None:
            key = out[k0]
            vals = [v for v in values if v is not None]
            hit = pc.is_in(key, value_set=pa.array(vals, key.type))
            if len(vals) < len(values):
                hit = pc.or_(hit, pc.is_null(key))
            out = out.filter(hit)
        return out.select(cols)

    def read_where(
        self,
        ranges: dict,
        version: int | None = None,
        _split: bool = False,
    ):
        """DATA-SKIPPING read: ``ranges`` maps constrained columns to
        either ``(lo, hi)`` bounds (either side None = unbounded) or a
        SCALAR for equality. Files whose recorded min/max for ANY
        constrained column cannot intersect the constraint never enter
        the scan's file index — the Delta data-skipping contract
        generalized beyond the merge key. Equality constraints on
        ``bloom_cols`` columns additionally consult the per-file bloom
        bitmap: a point lookup on a high-cardinality column (url, id)
        skips every file whose bloom rules the value out, which min/max
        ranges cannot do. Result stays EXACT regardless of pruning: the
        real predicate is re-applied as a residual filter.

        Files with no stats/bloom for a constrained column (pre-stats
        history, or a column added later) are kept conservatively; NULL
        rows never match a range or equality predicate (SQL semantics),
        so a file of all-NULL values (min/max None) is safely
        skippable.

        ``_split=True`` (internal) returns the (matching, rest) manifest
        entry lists instead of a DataFrame — predicate-scoped OPTIMIZE
        uses the same pruning to pick which files to rewrite."""
        m = self._manifest(version)
        bloom_cols = set(m.get("bloom_cols") or [])
        norm: dict[str, tuple] = {}
        eq: dict[str, list] = {}
        for c, bound in ranges.items():
            if isinstance(bound, tuple):
                norm[c] = bound
            else:  # scalar = equality
                if bound is None:
                    # SQL equality with NULL matches NOTHING; silently
                    # treating an accidental None probe (a missed lookup
                    # fed back in) as the unbounded range would return
                    # the whole table instead
                    raise ValueError(
                        f"equality constraint on {c!r} is None — SQL "
                        "NULL equality matches no row; pass the range "
                        "(None, None) explicitly for an unbounded scan"
                    )
                norm[c] = (bound, bound)
                eq[c] = [bound]
        # partition fields keyed by their SOURCE column: a predicate on
        # the raw column prunes through the transform (hidden partitioning)
        part_by_src: dict[str, list] = {}
        for n, s in (m.get("partition_fields") or {}).items():
            part_by_src.setdefault(s["col"], []).append((n, s))
        missing = [
            c for c in norm
            if c not in (m.get("stats_cols") or [])
            and c not in self.keys
            and c not in bloom_cols
            and c not in part_by_src
        ]
        if missing:
            raise ValueError(
                f"no data-skipping stats for columns {missing}; create "
                f"the table with stats_cols=... / bloom_cols=... (have: "
                f"{m.get('stats_cols')} / {sorted(bloom_cols)}, keys: "
                f"{list(self.keys)})"
            )
        bloom = {
            c: c in bloom_cols and _bloom_probeable(v[0])
            for c, v in eq.items()
        }

        def part_rules_out(e, c, lo, hi) -> bool:
            """Hidden-partition pruning: transform the probe bounds and
            compare against the file's recorded partition min/max. Time
            and truncate transforms are order-preserving so ranges map
            to ranges; bucket is equality-only. Conservative on every
            uncertainty: missing field (pre-evolution file), untransformable
            probe type, or mixed-type comparison keeps the file."""
            for n, s in part_by_src.get(c, ()):
                pv = (e.get("part") or {}).get(n)
                if not pv:
                    continue
                pmin, pmax = pv
                if pmin is None or pmax is None:
                    continue
                if s["transform"] == "bucket":
                    if lo is None or lo != hi:
                        continue  # buckets don't preserve order
                    tp = _transform_probe(s, lo)
                    if tp is NotImplemented:
                        continue
                    try:
                        if not (pmin <= tp <= pmax):
                            return True
                    except TypeError:
                        continue
                    continue
                tlo = _transform_probe(s, lo) if lo is not None else None
                thi = _transform_probe(s, hi) if hi is not None else None
                if tlo is NotImplemented or thi is NotImplemented:
                    continue
                try:
                    if (tlo is not None and pmax < tlo) or (
                        thi is not None and pmin > thi
                    ):
                        return True
                except TypeError:
                    continue
            return False

        picked, rest = [], []
        for e in m["files"]:
            keep = all(
                self._admits(
                    e, c, lo, hi, vals=eq.get(c), bloom=bloom.get(c, False)
                )
                and not part_rules_out(e, c, lo, hi)
                for c, (lo, hi) in norm.items()
            )
            (picked if keep else rest).append(e)
        if _split:
            return picked, rest
        df = self._read_entries(picked, m)
        for c, (lo, hi) in norm.items():
            if lo is not None and lo == hi:
                df = df.filter(F.col(c) == lo)
            else:
                if lo is not None:
                    df = df.filter(F.col(c) >= lo)
                if hi is not None:
                    df = df.filter(F.col(c) <= hi)
        return df

    def read_join_pruned(
        self,
        dim: DataFrame,
        on: str | list[str],
        version: int | None = None,
        max_keys: int = 10_000,
        dim_rows: list | None = None,
    ) -> DataFrame:
        """DYNAMIC FILE PRUNING from a join: rows of this table whose
        ``on`` column (a name) or column TUPLE (a list of names) matches
        some row of ``dim`` — but decided at the FILE level before the
        scan plans. A selective dimension (one provider's popularity
        constants, a takedown list) usually has a bounded key set:
        collect it (capped), drop every fact file whose per-file stats
        prove no key can live there, and scan only the survivors —
        Spark's runtime DPP for partition columns, extended to
        ARBITRARY stats columns through the manifest. Each column is
        tested on its own (min/max range via binary search; bloom
        probes for a bloom_col) and a file survives only if every
        prunable column admits one of that column's dim values —
        conservative, never wrong. One column scans the survivors with
        a residual ``IN`` (:func:`_key_in`); several keep exact TUPLE
        semantics through a residual semi-join against the dim. A
        dimension wider than ``max_keys`` falls back to an exact
        semi-join over the full snapshot (pruning needs a bounded
        build side; the result contract never changes).

        Raises ValueError, for one column or many, when no column in
        ``on`` is a merge key, a ``stats_cols`` or a ``bloom_cols``
        column: nothing could be pruned, and the caller picks its own
        plan instead of a silent full scan.

        ``dim_rows``: the dim's already-collected rows (each indexable
        by every ``on`` column) — callers that collected the key set
        for their own bookkeeping pass it so the prune plans NO extra
        collect job. Must be the COMPLETE key set of ``dim`` (the
        residual uses only these values)."""
        cols = [on] if isinstance(on, str) else list(on)
        if not cols:
            raise ValueError("need at least one join column")
        m = self._manifest(version)
        bloom_cols = set(m.get("bloom_cols") or [])
        covered = set(self.keys) | set(m.get("stats_cols") or []) | bloom_cols
        prunable = [c for c in cols if c in covered]
        if not prunable:
            raise ValueError(
                f"no file-level stats for {cols}; create the table with "
                f"stats_cols/bloom_cols including them (have stats: "
                f"{m.get('stats_cols')}, blooms: {m.get('bloom_cols')}, "
                f"keys: {list(self.keys)})"
            )
        dim_keys = dim.select(*cols).distinct()
        rows = (
            dim_keys.limit(max_keys + 1).collect()
            if dim_rows is None else dim_rows
        )

        def semi(df: DataFrame) -> DataFrame:
            # a USING semi-join moves the join columns first: project
            # back to the table's column order
            return df.join(dim_keys, cols, "semi").select(
                [df[c] for c in df.columns]
            )

        if len(rows) > max_keys:
            return semi(self._read_entries(m["files"], m))
        vals = {  # NULL never equi-joins
            c: sorted({r[c] for r in rows if r[c] is not None})
            for c in prunable
        }
        # bound the driver-side bloom work: ranges are O(log n) per
        # file, bloom probes O(values) per file — skip the bloom stage
        # past ~2M probe ops (pruning stays correct, just coarser)
        probe_ok = (
            sum(map(len, vals.values())) * len(m["files"]) <= 2_000_000
        )
        bloom = {
            c: probe_ok and c in bloom_cols
            and all(map(_bloom_probeable, vals[c]))
            for c in prunable
        }
        picked = []
        if all(vals.values()):  # an all-NULL dim column joins nothing
            picked = [
                e for e in m["files"]
                if all(
                    self._admits(e, c, vals=vals[c], bloom=bloom[c])
                    for c in prunable
                )
            ]
        df = self._read_entries(picked, m)
        if len(cols) == 1:
            return df.filter(_key_in(cols[0], vals[cols[0]]))
        return semi(df)

    # -- change data feed ---------------------------------------------------

    def read_changes(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """CHANGE DATA FEED: row-level deltas between two committed
        versions, the Delta CDF contract — each row tagged
        ``_change_type`` in {insert, delete, update_preimage,
        update_postimage} plus ``_commit_version``. Semantics: the feed
        from ``from_version`` (exclusive) to ``to_version`` (inclusive)
        replays each commit's logical change set in order; an id
        updated twice appears once per commit.

        SCALE: per commit, only the files that commit actually added or
        dropped are read (the manifest diff — never the carried files),
        and the pre/post images join on the merge key. A file-level CoW
        rewrite carries unchanged rows inside rewritten files; those are
        diffed out (all-column null-safe compare), so the feed is the
        LOGICAL delta. Cost per commit is O(rewritten data), which is
        what makes incremental consumers (popularity refresh, index
        handoff) O(delta) instead of O(table): the reference rescans
        and re-ships whole tables on refresh
        (``popularity/sql.py:286-298``,
        ``data_refresh_task_factory.py:183-240``); at 100 TB only a
        feed like this keeps those downstreams cheap. A ``compact`` /
        ``clone`` commit is data-identical and contributes no rows; a
        ``restore`` contributes the rows it logically reverts."""
        from pyspark.sql import types as T

        to_version = self.version if to_version is None else to_version
        if not (0 < from_version <= to_version):
            raise ValueError(
                f"need 0 < from_version <= to_version, got "
                f"{from_version}..{to_version}"
            )
        parts = []
        for v in range(from_version, to_version + 1):
            # check DISK, not the resolution cache: a vacuumed version's
            # manifest may still be cached on this handle while its data
            # files are already deleted — serving it would build a plan
            # over missing parquet
            if not (
                os.path.exists(f"{self.root}/manifests/v{v}.json")
                or os.path.exists(
                    f"{self.root}/manifests/v{v}.checkpoint.json"
                )
            ):
                raise RetentionError(
                    f"change feed for {self.root} needs versions "
                    f"{from_version}..{to_version}, but version {v} has "
                    "been vacuumed — a consumer that fell behind "
                    "retention must full-resync from a snapshot read, "
                    "then resume the feed from that version"
                )
        for v in range(from_version + 1, to_version + 1):
            d = self._commit_changes(v)
            if d is not None:
                parts.append(d)
        if not parts:
            m = self._manifest(to_version)
            schema = self._schema(m) or T.StructType([])
            schema = T.StructType(
                list(schema.fields)
                + [
                    T.StructField("_change_type", T.StringType()),
                    T.StructField("_commit_version", T.LongType()),
                ]
            )
            return self.spark.createDataFrame([], schema)
        out = parts[0]
        for d in parts[1:]:
            # schema may evolve between commits: later deltas carry new
            # columns, earlier ones fill NULL
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    @staticmethod
    def _comparable(col, dtype):
        """Null-safe-comparable projection of a column: maps have no
        ordering/equality in Spark, so compare their sorted entry
        arrays; everything else compares directly via ``<=>``."""
        from pyspark.sql import types as T

        if isinstance(dtype, T.MapType):
            return F.array_sort(F.map_entries(col))
        return col

    def _commit_changes(self, v: int) -> DataFrame | None:
        """The logical row delta of commit ``v`` vs ``v-1``: full-outer
        join of dropped-file rows (pre image) against added-file rows
        (post image) on the merge key, carried-identical rows removed."""
        m_prev, m_cur = self._manifest(v - 1), self._manifest(v)
        prev_by = {e["path"]: e for e in m_prev["files"]}
        cur_by = {e["path"]: e for e in m_cur["files"]}
        dropped = sorted(set(prev_by) - set(cur_by))
        added = sorted(set(cur_by) - set(prev_by))
        # a deletion-vector commit changes no file list — the delta is
        # the GROWTH of a carried entry's DV: rows newly dead in v
        dv_grown = [
            (prev_by[p], cur_by[p])
            for p in sorted(set(prev_by) & set(cur_by))
            if prev_by[p] != cur_by[p] and cur_by[p].get("dv")
        ]
        if not dropped and not added and not dv_grown:
            return None

        # pre/post images are the LIVE rows of the diffed entries (a
        # dropped file that carried a DV contributes only its survivors)
        pre = self._read_entries([prev_by[p] for p in dropped], m_prev)
        post = self._read_entries([cur_by[p] for p in added], m_cur)
        if dv_grown:
            # rows at positions in (cur DV minus prev DV) of carried
            # files died in THIS commit — they join the pre image (a
            # dv-update commit pairs them with the rewritten rows in
            # its added files; a dv-delete emits them as deletes)
            raw = self._scan(
                [self._abs(e["path"]) for e, _ in dv_grown], m_prev,
                positions=True,
            )
            cur_pos = self._dv_positions([e for _, e in dv_grown])
            old = self._dv_positions([e for e, _ in dv_grown])
            if old is not None:
                cur_pos = cur_pos.join(
                    old, ["file", "pos"], "left_anti"
                )
            # cur_pos was anti-joined down to THIS span's newly-dead
            # rows, so the broadcast guard sizes on the delta — the
            # deleted-count growth across the span — not the total
            # accumulated DV volume (a tiny commit on a delete-heavy
            # table must still broadcast its tiny delta)
            newly_dead_n = sum(
                (cur.get("dv") or {}).get("deleted", 0)
                - (old_e.get("dv") or {}).get("deleted", 0)
                for old_e, cur in dv_grown
            )
            newly_dead = raw.join(
                self._dv_hint(
                    cur_pos, [e for _, e in dv_grown],
                    dead_rows=newly_dead_n,
                ),
                (raw["__dv_file"] == cur_pos["file"])
                & (raw["__dv_pos"] == cur_pos["pos"]),
                "left_semi",
            ).drop("__dv_file", "__dv_pos")
            pre = pre.unionByName(newly_dead, allowMissingColumns=True)
        keys = list(self.keys)
        # the keyed full-outer join below must never see NULL-key rows:
        # eqNullSafe would CROSS-match every NULL-key row in the dropped
        # files with every NULL-key row in the added files (n×m spurious
        # update pairs for rows that never changed). The manifests'
        # null_keys stats say — for free — whether any diffed file can
        # hold one; only then does the positional NULL-key diff run.
        diffed = [prev_by[p] for p in dropped]
        diffed += [cur_by[p] for p in added]
        diffed += [e for e, _ in dv_grown]
        may_have_null_keys = any(
            (e.get("null_keys") is None)
            or any(v for v in e["null_keys"].values())
            for e in diffed
        )
        all_cols: list = []
        dtypes: dict = {}
        for df in (pre, post):
            for f in df.schema.fields:
                if f.name not in dtypes:
                    dtypes[f.name] = f.dataType
                    all_cols.append(f.name)
        value_cols = [c for c in all_cols if c not in keys]

        def _tag(df, ctype):
            return df.select(
                *[
                    (
                        F.col(c) if c in df.columns
                        else F.lit(None).cast(dtypes[c])
                    ).alias(c)
                    for c in all_cols
                ],
                F.lit(ctype).alias("_change_type"),
                F.lit(v).cast("long").alias("_commit_version"),
            )

        # structurally one-sided commits need no diff join at all —
        # the empty side is known from the MANIFEST, not a probe job:
        # no added files ⇔ no post row exists, so every live pre row
        # (dropped-file survivors + newly-dead DV rows) is a delete; no
        # dropped files and no DV growth ⇔ no pre row exists, so every
        # added-file row is an insert (blind appends, insert-only
        # merges). Carried-identical cancellation and the NULL-key
        # positional diff are both vacuous with one side empty.
        if not added:
            return _tag(pre, "delete")
        if not dropped and not dv_grown:
            return _tag(post, "insert")

        def _side(df, tag):
            cols = [
                (
                    F.col(c) if c in df.columns
                    else F.lit(None).cast(dtypes[c])
                ).alias(f"{tag}_{c}")
                for c in all_cols
            ]
            return df.select(*cols, F.lit(True).alias(f"{tag}_present"))

        keys_nn = None
        for k in keys:
            c = F.col(k).isNotNull()
            keys_nn = c if keys_nn is None else keys_nn & c
        pre_k = pre.filter(keys_nn) if may_have_null_keys else pre
        post_k = post.filter(keys_nn) if may_have_null_keys else post
        p, q = _side(pre_k, "__p"), _side(post_k, "__q")
        cond = None
        for k in keys:
            c = F.col(f"__p_{k}").eqNullSafe(F.col(f"__q_{k}"))
            cond = c if cond is None else cond & c
        j = p.join(q, cond, "full_outer")
        same = F.lit(True)
        for c in value_cols:
            same = same & self._comparable(
                F.col(f"__p_{c}"), dtypes[c]
            ).eqNullSafe(self._comparable(F.col(f"__q_{c}"), dtypes[c]))
        p_here = F.coalesce(F.col("__p_present"), F.lit(False))
        q_here = F.coalesce(F.col("__q_present"), F.lit(False))

        # ONE pass over the join classifies every row (the former
        # 4-way filtered union planned the whole join subtree — scans,
        # DV semi-join, both exchanges, the sort-merge — once PER
        # change-type arm, and the executed plan really did recompute
        # it 4x: the dv-delete feed cost 4 sequential ~2s jobs for one
        # ~2s diff). Each row explodes to its change events: one for
        # insert/delete, the pre+post pair for an update, none for a
        # carried-identical row (the unmatched WHEN yields NULL and
        # explode emits nothing). Row multiset, values, and column
        # order are identical to the union formulation.
        def _row(tag):
            return F.struct(
                *[F.col(f"{tag}_{c}").alias(c) for c in all_cols]
            )

        def _ev(ctype, row):
            return F.struct(F.lit(ctype).alias("t"), row.alias("r"))

        events = (
            F.when(
                q_here & ~p_here, F.array(_ev("insert", _row("__q")))
            )
            .when(
                p_here & ~q_here, F.array(_ev("delete", _row("__p")))
            )
            .when(
                p_here & q_here & ~same,
                F.array(
                    _ev("update_preimage", _row("__p")),
                    _ev("update_postimage", _row("__q")),
                ),
            )
        )
        out = j.select(F.explode(events).alias("__e")).select(
            *[F.col(f"__e.r.{c}").alias(c) for c in all_cols],
            F.col("__e.t").alias("_change_type"),
            F.lit(v).cast("long").alias("_commit_version"),
        )
        if may_have_null_keys:
            # NULL-key rows can't be identity-matched by key, so diff
            # them POSITIONALLY instead: full-row (null-safe comparable)
            # match with a row_number tiebreaker makes carried-identical
            # rows cancel exactly (multiset semantics); a genuinely
            # changed NULL-key row surfaces as delete + insert — the
            # honest change types when no key identity exists.
            from pyspark.sql import Window

            def _nside(df, tag):
                d = _side(df.filter(~F.coalesce(keys_nn, F.lit(False))), tag)
                w = Window.partitionBy(
                    *[
                        self._comparable(F.col(f"{tag}_{c}"), dtypes[c])
                        for c in all_cols
                    ]
                ).orderBy(F.lit(1))
                return d.withColumn(f"{tag}_rn", F.row_number().over(w))

            a, b = _nside(pre, "__p"), _nside(post, "__q")
            ncond = F.col("__p_rn") == F.col("__q_rn")
            for c in all_cols:
                ncond = ncond & self._comparable(
                    F.col(f"__p_{c}"), dtypes[c]
                ).eqNullSafe(self._comparable(F.col(f"__q_{c}"), dtypes[c]))
            nj = a.join(b, ncond, "full_outer")
            na = F.coalesce(F.col("__p_present"), F.lit(False))
            nb = F.coalesce(F.col("__q_present"), F.lit(False))
            out = out.unionByName(
                nj.filter(nb & ~na).select(
                    *[F.col(f"__q_{c}").alias(c) for c in all_cols],
                    F.lit("insert").alias("_change_type"),
                    F.lit(v).cast("long").alias("_commit_version"),
                )
            ).unionByName(
                nj.filter(na & ~nb).select(
                    *[F.col(f"__p_{c}").alias(c) for c in all_cols],
                    F.lit("delete").alias("_change_type"),
                    F.lit(v).cast("long").alias("_commit_version"),
                )
            )
        return out

    # -- merge --------------------------------------------------------------

    @staticmethod
    def _lex(*vals) -> tuple:
        """NULL-safe lexicographic tuple: None sorts first (Spark's
        min/max skip NULLs, but a file or batch of all-NULL key values
        yields None stats — treat those conservatively)."""
        return tuple((v is not None, v) for v in vals)

    def _batch_summary(
        self, source: DataFrame, check_dups: bool = False
    ) -> BatchSummary:
        """The batch's merge-key summary (:class:`BatchSummary`) in ONE
        Spark job per commit attempt.

        Hot path: a NARROW collect of the raw key columns (CollectLimit
        over the checkpointed source — ONE job, no shuffle) instead of
        a groupBy whose AQE execution costs two stage-jobs per commit;
        grouping the <= ``_MAX_BATCH_KEYS`` rows is driver-side Counter
        work. It yields the exact per-key multiset, from which
        ``_plan_write`` derives the clustered write's split points
        with NO sampling job; boxes, the NULL flag and the dup flag
        come from the same rows and are IDENTICAL to the aggregation's
        (min/max/isNull are insensitive to row multiplicity).

        Fallback: an aggregation per ``keys[0]`` (multiset None), for
        float/decimal keys — Python min/max diverges from the SQL
        ordering on NaN — and for batches larger than the collect cap,
        where the per-commit sampling job is amortized by the batch
        size anyway. ``check_dups=True`` fuses the duplicate-full-key
        test into the same aggregation."""
        from collections import Counter

        from pyspark.sql import types as _T

        key_types = {f.name: f.dataType for f in source.schema.fields}
        exact = not any(
            isinstance(
                key_types.get(k),
                (_T.FloatType, _T.DoubleType, _T.DecimalType),
            )
            for k in self.keys
        )
        if exact:
            rows = (
                source.select(*self.keys)
                .limit(_MAX_BATCH_KEYS + 1).collect()
            )
            exact = len(rows) <= _MAX_BATCH_KEYS
        if exact:
            counted = Counter(tuple(r) for r in rows)
            # keys[1] values per keys[0] value (the key itself when
            # there is only one), so a single-key box is (k, k, k)
            per: dict = {}
            for kt in counted:
                per.setdefault(kt[0], []).append(kt[1 if len(kt) > 1 else 0])
            boxes = []
            has_null = False
            for kv, vals in per.items():
                nn = [v for v in vals if v is not None]
                if kv is None or len(nn) < len(vals):
                    has_null = True
                boxes.append(
                    (kv, min(nn) if nn else None, max(nn) if nn else None)
                )
            return BatchSummary(
                boxes=boxes,
                has_null=has_null,
                has_dup=(
                    any(c > 1 for c in counted.values())
                    if check_dups else None
                ),
                multiset=list(counted.items()),
            )
        k0, rest = self.keys[0], list(self.keys[1:])
        cnt_aggs: list = []
        if check_dups:
            src = source.groupBy(*self.keys).agg(
                F.count(F.lit(1)).alias("__cnt")
            )
            cnt_aggs = [F.max("__cnt").alias("max_cnt")]
        else:
            src = source
        if rest:
            aggs = [
                F.min(rest[0]).alias("lo"),
                F.max(rest[0]).alias("hi"),
                F.max(F.col(rest[0]).isNull().cast("int")).alias("has_null"),
            ]
        else:
            aggs = [
                F.min(k0).alias("lo"),
                F.max(k0).alias("hi"),
                F.lit(0).alias("has_null"),
            ]
        grouped = (
            src.groupBy(k0).agg(*aggs, *cnt_aggs)
            .limit(_MAX_BATCH_KEYS + 1).collect()
        )
        if len(grouped) > _MAX_BATCH_KEYS:
            # GRACEFUL DEGRADATION, not an error: a batch keyed at row
            # grain (a fine-key table, a giant backfill) collapses to
            # ONE GLOBAL RANGE BOX — min/max of keys[0] (x rest[0] when
            # composite). Skipping gets coarser (files outside the
            # batch's overall key range still skip; such a batch
            # usually touches most files anyway), correctness is
            # unchanged, and the driver summary stays O(1) instead of
            # O(distinct keys). The conflict re-link check uses the
            # same conservative box.
            g_aggs = [
                F.min(k0).alias("k0_lo"),
                F.max(k0).alias("k0_hi"),
                F.max(F.col(k0).isNull().cast("int")).alias("k0_null"),
            ]
            if rest:
                g_aggs += [
                    F.min(rest[0]).alias("r_lo"),
                    F.max(rest[0]).alias("r_hi"),
                    F.max(
                        F.col(rest[0]).isNull().cast("int")
                    ).alias("r_null"),
                ]
            if check_dups:
                g_aggs.append(F.max("__cnt").alias("max_cnt"))
            g = src.agg(*g_aggs).head()
            range_box = None
            if g["k0_lo"] is not None:  # else every row is NULL-keyed
                range_box = (
                    (g["k0_lo"], g["r_lo"]) if rest else (g["k0_lo"],),
                    (g["k0_hi"], g["r_hi"]) if rest else (g["k0_hi"],),
                )
            return BatchSummary(
                boxes=[],
                has_null=bool(g["k0_null"]) or bool(rest and g["r_null"]),
                range_box=range_box,
                has_dup=(
                    bool(g["max_cnt"] and g["max_cnt"] > 1)
                    if check_dups else None
                ),
            )
        # min/max SKIP NULLs, so the boxes are blind to NULL key
        # components — and merge_upsert matches NULL keys via eqNullSafe.
        # Any batch row with a NULL anywhere in (k0, rest[0]) can only
        # match target rows that ALSO have that NULL, which live in
        # files whose null_keys count is positive: route those files to
        # 'affected' whenever the batch carries a NULL key component.
        return BatchSummary(
            boxes=[(r[k0], r["lo"], r["hi"]) for r in grouped],
            has_null=any(r[k0] is None or r["has_null"] for r in grouped),
            has_dup=(
                any(r["max_cnt"] > 1 for r in grouped)
                if check_dups else None
            ),
        )

    def _entry_hit(self, e: dict, summary: BatchSummary) -> bool:
        """Does this file's composite-key range intersect any batch box
        (or could it hide a NULL-key match the batch carries)? Ranges
        compare on (keys[0], keys[1]), the grain the boxes carry."""
        ks = self.keys[:2]
        lo = self._lex(*(e["min"][k] for k in ks))
        hi = self._lex(*(e["max"][k] for k in ks))

        def span(p, flo, fhi):
            if len(ks) == 1:
                return self._lex(flo), self._lex(fhi)
            return self._lex(p, flo), self._lex(p, fhi)

        spans = (span(*b) for b in summary.boxes)
        if summary.range_box is not None:
            # coarsened global box (overflow): conservative interval
            # test — may keep a file the per-value boxes would skip
            # (less skipping), never the reverse (correctness)
            b_lo, b_hi = summary.range_box
            spans = [(self._lex(*b_lo), self._lex(*b_hi))]
        hit = any(lo <= s_hi and s_lo <= hi for s_lo, s_hi in spans)
        if not hit and summary.has_null:
            nk = e.get("null_keys")
            # pre-null-stats manifest entry: conservative
            hit = nk is None or any(v for v in nk.values())
        return hit

    # -- CHECK constraints -----------------------------------------------------

    def _enforce_constraints(self, df: DataFrame, op: str) -> None:
        """One aggregation pass counting violations of every constraint
        over the rows this commit is about to write; any FALSE (SQL
        CHECK semantics: NULL passes) rejects the whole write."""
        cons = self.constraints
        if not cons:
            return
        aggs = [
            F.sum(
                (~F.coalesce(F.expr(sql), F.lit(True))).cast("long")
            ).alias(name)
            for name, sql in cons.items()
        ]
        row = df.agg(*aggs).head()
        bad = {n: row[n] for n in cons if row[n]}
        if bad:
            raise ConstraintViolation(
                f"{op} on {self.root} violates CHECK constraint(s) "
                f"{bad} (violating-row counts); the commit was rejected"
            )

    def add_constraint(self, name: str, expr_sql: str) -> dict:
        """ALTER TABLE ADD CONSTRAINT ... CHECK (expr): validates the
        CURRENT snapshot first (one scan — an unsatisfiable constraint
        can never be added), then records the constraint as a table
        property in a metadata-only commit; every later merge/update
        enforces it against its new rows. Delta's CHECK constraint."""
        if name in self.constraints:
            raise ValueError(f"constraint {name!r} already exists")

        def derive(m):
            # re-validate against EACH fresh head: a conflict-losing
            # retry that skipped re-validation could attach a CHECK the
            # winner's new rows already violate
            if name in self.constraints:
                raise ValueError(f"constraint {name!r} already exists")
            if m["files"]:
                n_bad = (
                    self._read_entries(m["files"], m)
                    .agg(
                        F.sum(
                            (~F.coalesce(F.expr(expr_sql), F.lit(True)))
                            .cast("long")
                        ).alias("n")
                    )
                    .head()["n"]
                )
                if n_bad:
                    raise ConstraintViolation(
                        f"cannot add CHECK {name!r} to {self.root}: "
                        f"{n_bad} existing rows violate {expr_sql!r}"
                    )
            self._constraints = {**self.constraints, name: expr_sql}
            return m["files"], m.get("schema")

        committed, _ = self._commit_metadata(f"add_constraint({name})", derive)
        return {"version": committed, "constraints": dict(self.constraints)}

    def drop_constraint(self, name: str) -> dict:
        """ALTER TABLE DROP CONSTRAINT: metadata-only commit."""
        if name not in self.constraints:
            raise ValueError(f"no constraint {name!r}")

        def derive(m):
            self._constraints = {
                k: v for k, v in self.constraints.items() if k != name
            }
            return m["files"], m.get("schema")

        committed, _ = self._commit_metadata(
            f"drop_constraint({name})", derive
        )
        return {"version": committed, "constraints": dict(self.constraints)}

    def set_partition_spec(self, partition_by: tuple[str, ...]) -> dict:
        """ALTER TABLE ... SET PARTITION SPEC — partition EVOLUTION as a
        metadata-only commit (Iceberg's signature capability; Hive-style
        layouts need a full rewrite). No file moves: already-written
        files keep the partition fields they were recorded under and
        continue to prune through them, while every FUTURE write
        clusters by and records the new spec. ``partition_fields``
        accumulates all field definitions ever used so ``read_where``
        can interpret any entry's fields regardless of which spec it
        was written under."""
        specs = parse_partition_specs(partition_by)
        m = self._manifest()
        if m.get("schema"):
            from pyspark.sql.types import StructType

            names = {
                f.name: f.dataType
                for f in StructType.fromJson(json.loads(m["schema"])).fields
            }
            for s in specs:
                if s["col"] not in names:
                    raise ValueError(
                        f"partition transform references unknown column "
                        f"{s['col']!r} (have: {sorted(names)})"
                    )
                _partition_field_expr(s, s["col"], names[s["col"]])

        def derive(m):
            fields = dict(m.get("partition_fields") or {})
            fields.update({s["name"]: dict(s) for s in specs})
            self._partition_spec = tuple(dict(s) for s in specs)
            self._partition_fields = fields
            return m["files"], m.get("schema")

        committed, _ = self._commit_metadata("set_partition_spec", derive)
        return {
            "version": committed,
            "partition_spec": [s["name"] for s in specs],
        }

    # -- column mapping (RENAME / DROP COLUMN, metadata-only) ------------------

    def _guard_remappable(self, name: str) -> None:
        """Columns the engine's internals key on stay in physical space:
        merge keys, the url-guard column, stats/bloom columns, and
        anything a CHECK constraint references may not be renamed or
        dropped (drop the constraint / rebuild the table property
        first). Everything else remaps freely."""
        if name in self.keys:
            raise ValueError(f"cannot remap merge key {name!r}")
        if name == "url":
            raise ValueError(
                "cannot remap 'url' (the merge url-conflict guard "
                "keys on it)"
            )
        if name in self.stats_cols or name in self.bloom_cols:
            raise ValueError(
                f"cannot remap {name!r}: it carries per-file "
                "stats/bloom skipping state"
            )
        if name in {s["col"] for s in self.partition_spec}:
            raise ValueError(
                f"cannot remap partition source column {name!r}; "
                "evolve the partition spec off it first "
                "(set_partition_spec)"
            )
        hit = [
            n for n, sql in self.constraints.items() if name in sql
        ]
        if hit:
            raise ValueError(
                f"cannot remap {name!r}: referenced by CHECK "
                f"constraint(s) {hit}"
            )

    def _alter_schema_commit(self, op: str, prepare) -> dict:
        """Commit a metadata-only schema change. ``prepare(schema)``
        derives the new field list (and may set this handle's mapping/
        dropped-cols properties); :meth:`_commit_metadata` re-runs it
        against the FRESH head on every CommitConflict retry, so a
        concurrent schema commit is never reverted (the loser's retry
        would otherwise re-commit a schema computed before the
        winner's column existed)."""
        from pyspark.sql import types as T

        committed, _ = self._commit_metadata(op, lambda m: (
            m["files"], T.StructType(prepare(self._schema(m))).json()
        ))
        return {
            "version": committed,
            "column_mapping": dict(self.column_mapping),
        }

    def add_column(self, name: str, dtype: str) -> dict:
        """ALTER TABLE ADD COLUMN — metadata-only: the manifest schema
        gains a NULLABLE field, no file is rewritten, and reads apply
        the manifest schema so every existing row returns NULL for the
        new column (Delta/Iceberg add-column semantics; the implicit
        alternative, merge(allow_new_columns=True), requires a data
        batch). If the name collides with a PHYSICAL column still
        present in old files (a tombstoned drop or a renamed-away
        source), the new logical column gets a fresh physical identity
        via the column mapping — the dead data can never leak into the
        new column."""
        import uuid as _uuid

        from pyspark.errors import ParseException
        from pyspark.sql import types as T

        try:
            new_field = T.StructType.fromDDL(f"`{name}` {dtype}")[0]
        except ParseException as exc:
            raise ValueError(
                f"ADD COLUMN type {dtype!r} is not a valid Spark DDL "
                f"type: {exc}"
            ) from None
        field = T.StructField(name, new_field.dataType, nullable=True)

        def prepare(schema):
            if schema is None:
                raise ValueError(
                    "table has no recorded schema; write data before "
                    "evolving columns"
                )
            if name in set(schema.fieldNames()):
                raise ValueError(f"column {name!r} already exists")
            if name in self.dropped_cols or name in set(
                self.column_mapping.values()
            ):
                mapping = dict(self.column_mapping)
                mapping[name] = f"__c{_uuid.uuid4().hex[:12]}"
                self._column_mapping = mapping
            return list(schema.fields) + [field]

        return self._alter_schema_commit(
            f"add_column({name} {dtype})", prepare
        )

    def rename_column(self, old: str, new: str) -> dict:
        """ALTER TABLE RENAME COLUMN — metadata-only (Delta's column
        mapping): no file is rewritten; the manifest schema carries the
        new LOGICAL name and the mapping pins the column's stable
        PHYSICAL name, which reads/writes translate at the boundary."""

        def prepare(schema):
            names = set(schema.fieldNames())
            if old not in names:
                raise ValueError(f"no column {old!r}")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            self._guard_remappable(old)
            mapping = dict(self.column_mapping)
            physical = mapping.pop(old, old)
            if new in self.dropped_cols or new in mapping.values():
                raise ValueError(
                    f"{new!r} collides with a physical column name "
                    "still present in old files"
                )
            mapping[new] = physical
            self._column_mapping = mapping
            return [
                f if f.name != old
                else f.__class__(new, f.dataType, f.nullable)
                for f in schema.fields
            ]

        return self._alter_schema_commit(
            f"rename_column({old}->{new})", prepare
        )

    def drop_column(self, name: str) -> dict:
        """ALTER TABLE DROP COLUMN — metadata-only: old files keep the
        physical column (readers prune it via the manifest schema); the
        physical name is tombstoned so a later schema evolution cannot
        reuse it against files that still carry the dead data."""

        def prepare(schema):
            if name not in set(schema.fieldNames()):
                raise ValueError(f"no column {name!r}")
            self._guard_remappable(name)
            mapping = dict(self.column_mapping)
            physical = mapping.pop(name, name)
            self._column_mapping = mapping
            self._dropped_cols = tuple(self.dropped_cols) + (physical,)
            return [f for f in schema.fields if f.name != name]

        return self._alter_schema_commit(f"drop_column({name})", prepare)

    # -- logical conflict resolution -----------------------------------------

    @staticmethod
    def _retrying(attempt, max_retries: int) -> dict:
        """Run one optimistic commit ``attempt()`` up to ``max_retries``
        + 1 times. A CommitConflict means another writer claimed the
        version: the attempt has already cleaned up after itself, and
        the next one re-reads the winner's snapshot and recomputes its
        change against it, so both logical updates survive. The last
        conflict reaches the caller."""
        last: CommitConflict | None = None
        for _ in range(max_retries + 1):
            try:
                return attempt()
            except CommitConflict as e:
                last = e
        raise last

    def _publish(
        self,
        m: dict,
        removed: list[dict],
        kept: list[dict],
        new_entries: list[dict],
        op: str,
        safe_against,
        dirs: list[str],
        pre_commit_hook,
        txn: tuple[str, int] | None = None,
        **commit_kw,
    ) -> tuple[dict, bool]:
        """The commit tail every data-writing attempt shares: the
        attempt read head ``m``, replaces its entries ``removed`` with
        ``new_entries`` and carries ``kept`` by reference. Link the
        next version; on CommitConflict try the metadata-only re-link
        onto the winner's head (``safe_against``, see
        :meth:`_relink_after_conflict`; None = never re-link), and when
        that is refused delete ``dirs`` — every directory the attempt
        wrote — and re-raise so the retry driver recomputes. Returns
        (the committed manifest, whether it was re-linked). Work that
        must follow the commit (an audit write) stays with the caller,
        after this returns, so only the attempt that committed does it.
        ``pre_commit_hook`` (tests) runs in the window where conflicts
        surface: after the data write, before the manifest link."""
        if pre_commit_hook is not None:
            pre_commit_hook()
        version, relinked = m["version"] + 1, False
        try:
            self._commit(
                version, kept + new_entries, op=op, txn=txn, **commit_kw
            )
        except CommitConflict:
            rl = None if safe_against is None else (
                self._relink_after_conflict(
                    m, removed, new_entries, op, safe_against, txn
                )
            )
            if rl is None:
                for d in dirs:
                    shutil.rmtree(d, ignore_errors=True)
                raise
            version, relinked = rl, True
        return self._manifest(version), relinked

    @staticmethod
    def _noop_result(m: dict, **extra) -> dict:
        """The result of a write that commits nothing: head ``m`` stays
        the current version and every file is skipped."""
        return CowTable._commit_result(m, 0, [], False, **extra)

    @staticmethod
    def _commit_result(
        mm: dict, rewritten: int, new_entries: list[dict], relinked: bool,
        **extra,
    ) -> dict:
        """The result of a data-writing commit: committed manifest
        ``mm``, ``rewritten`` files replaced, ``new_entries`` written."""
        return {
            "version": mm["version"],
            "files_rewritten": rewritten,
            "files_skipped": len(mm["files"]) - len(new_entries),
            "files_written": len(new_entries),
            "rows": mm["rows"],
            "relinked": relinked,
            **extra,
        }

    def _relink_after_conflict(
        self,
        base: dict,
        removed_entries: list[dict],
        new_entries: list[dict],
        op: str,
        safe_against,
        txn: tuple[str, int] | None = None,
        max_rounds: int = 10,
    ) -> int | None:
        """LOGICAL conflict resolution (Delta's commit protocol): a
        commit that lost its version slot does NOT recompute when the
        winner's changes are provably disjoint from what it read and
        wrote — it re-links its already-written data files onto the new
        head as a metadata-only retry. Without this, 20 concurrent
        provider workflows + a compactor + a popularity refresh
        serialize through recompute storms even though they touch
        disjoint files.

        Safe iff (a) every file this attempt read+rewrote is still in
        the head UNCHANGED (same path, same entry content — a winner
        attaching a deletion vector counts as a change), and (b) the
        op-specific ``safe_against(winner_added_entries,
        winner_removed_paths)`` check accepts the winner's NET delta
        (key-box disjointness + url-guard probe for merge; a
        no-matching-row scan of the winner's added files for
        update/delete; trivially true for compact, whose output is
        data-identical). ``base`` is the snapshot the attempt read,
        ``removed_entries`` its entries the attempt replaced. Returns
        the committed version, or None — caller falls back to the full
        rebase."""
        removed = {e["path"] for e in removed_entries}
        base_map = {e["path"]: e for e in base["files"]}
        for _ in range(max_rounds):
            cur_v = self.version
            cur = self._manifest(cur_v)
            cur_map = {e["path"]: e for e in cur["files"]}
            if any(
                p not in cur_map or cur_map[p] != base_map.get(p)
                for p in removed
            ):
                return None
            winner_added = [
                e for p, e in cur_map.items() if p not in base_map
            ]
            winner_removed = sorted(
                p for p in base_map if p not in cur_map and p not in removed
            )
            # content changes to files NEITHER side removed also count
            # as winner activity the safety check must see (treat a
            # modified carried entry as remove+add of the same path)
            for p, e in cur_map.items():
                if p in base_map and p not in removed and e != base_map[p]:
                    winner_added.append(e)
                    winner_removed.append(p)
            if not safe_against(winner_added, winner_removed):
                return None
            entries = [
                e for p, e in sorted(cur_map.items()) if p not in removed
            ] + new_entries
            try:
                self._commit(cur_v + 1, entries, op=op, txn=txn)
                return cur_v + 1
            except CommitConflict:
                continue  # yet another winner: recheck against new head
        return None

    def _merge_relink_safe(
        self, winner_added, winner_removed, summary: BatchSummary,
        guarded_source,
    ) -> bool:
        """A lost merge may re-link iff (1) no winner-added file's key
        range intersects the batch's boxes (else the merge should have
        matched rows in it), and (2) when the url-conflict guard was
        on, none of the batch's urls appear anywhere in the winner's
        delta — added OR removed files — since the guard's verdict
        against the winner's snapshot could then differ. Both checks
        cost O(winner's delta), never O(table)."""
        if any(self._entry_hit(e, summary) for e in winner_added):
            return False
        if guarded_source is not None:
            paths = [self._abs(e["path"]) for e in winner_added] + [
                self._abs(p) for p in winner_removed
            ]
            if any(not os.path.exists(p) for p in paths):
                return False  # delta partially vacuumed: can't prove safety
            if paths:
                delta_urls = self.spark.read.parquet(*paths).select("url")
                probe = guarded_source.select("url")
                if delta_urls.join(probe, "url", "semi").head(1):
                    return False
        return True

    def _predicate_relink_safe(self, winner_added, condition) -> bool:
        """A lost UPDATE/DELETE may re-link iff no row in the winner's
        added files matches the predicate (the serialized-after-winner
        execution would have touched them)."""
        if not winner_added:
            return True
        paths = [self._abs(e["path"]) for e in winner_added]
        if any(not os.path.exists(p) for p in paths):
            return False
        return not self._scan(paths, self._manifest()).filter(
            condition
        ).head(1)

    def _conform_widths(
        self, merged: DataFrame, table_schema, new_fields
    ) -> DataFrame:
        """Cast the merge output back to the TABLE's declared column
        types before writing. The upsert's spec expressions widen
        numerics (Datatype.int is LongType engine-wide, double is
        FP64), and on a batch that touches NO existing file the merge
        input is built from the SPEC schema — so an int32 table would
        get an INT64 data file while its manifest schema still says
        int, and the next read of that column fails
        (PARQUET_COLUMN_DATA_TYPE_MISMATCH: parquet can upcast
        int32->long but never the reverse). Conforming at the write
        boundary keeps every file of a column at ONE physical width —
        the manifest schema's. Evolution columns (``new_fields``) keep
        their spec type; they ARE the new schema. Integral NARROWING
        casts carry a per-row roundtrip guard that raises on a value
        the narrow type cannot hold — the engine's sessions run with
        ANSI off, where a bare cast silently WRAPS (CAST(3000000000L
        AS INT) = -1294967296), which would be worse than the
        corruption this method exists to prevent. Float narrowing
        (double->float) conforms without a guard: an FP32 table column
        declares reduced precision by construction."""
        from pyspark.sql import types as T

        if table_schema is None:
            return merged
        int_width = {
            T.ByteType(): 1, T.ShortType(): 2,
            T.IntegerType(): 4, T.LongType(): 8,
        }
        def no_null(dt):
            # compare types MODULO nullability: a full-join/CASE WHEN
            # reconcile makes array elements (or struct fields)
            # nullable that the created table declared non-null, and a
            # nullability-only difference neither needs a physical cast
            # nor survives one (Spark refuses casting a nullable
            # element into a non-null array type)
            if isinstance(dt, T.ArrayType):
                return T.ArrayType(no_null(dt.elementType), True)
            if isinstance(dt, T.MapType):
                return T.MapType(
                    no_null(dt.keyType), no_null(dt.valueType), True
                )
            if isinstance(dt, T.StructType):
                return T.StructType([
                    T.StructField(f.name, no_null(f.dataType), True)
                    for f in dt.fields
                ])
            return dt

        want = {f.name: f.dataType for f in table_schema.fields}
        for f in new_fields:
            want[f.name] = f.dataType
        have = {f.name: f.dataType for f in merged.schema.fields}
        if all(
            no_null(have[c]) == no_null(want.get(c, have[c]))
            for c in have
        ):
            return merged

        def conform(c):
            w, h = want.get(c), have[c]
            if w is None or no_null(h) == no_null(w):
                return F.col(c)
            cast = F.col(c).cast(w)
            narrowing = w in int_width and isinstance(h, T.NumericType) and (
                h not in int_width or int_width[w] < int_width[h]
            )
            if narrowing:
                # ANY numeric source narrowing into an integral column
                # gets an out-of-range guard; plain SQL cast truncation
                # (3.7 -> 3, toward zero) stays allowed. The test is
                # exact per source type — out of range means
                # trunc(value) outside [min, max], i.e. value >= max+1
                # or value <= min-1:
                #  * integral source: exact cast roundtrip (a non-ANSI
                #    wrap never roundtrips);
                #  * decimal source: compare in the DECIMAL domain —
                #    routing through double rounds Long.MAX up to 2^63
                #    (false overflow) and -2^63-1 up to -2^63 (missed
                #    wrap: non-ANSI decimal->long WRAPS, it does not
                #    NULL on this Spark);
                #  * float/double source: bounds chosen for exact
                #    representability (max+1 = 2^(bits-1) is always a
                #    double; for long, min-1 isn't, but no double lies
                #    strictly between min-1 and min, so `< min` is the
                #    same predicate).
                # cast.isNull() stays as a cross-version backstop only.
                bits = int_width[w] * 8
                if h in int_width:
                    # range compare in the SOURCE integral domain —
                    # exact, and cheaper than a cast-roundtrip (one
                    # comparison pair per row instead of two casts)
                    bad_val = (
                        (F.col(c) > F.lit(2 ** (bits - 1) - 1))
                        | (F.col(c) < F.lit(-(2 ** (bits - 1))))
                    )
                elif isinstance(h, T.DecimalType):
                    # compare the TRUNCATED value (sign-aware floor/
                    # ceil — exact on decimals, and trunc-toward-zero
                    # is what the cast itself does) against min/max:
                    # comparing the raw column against scale-0 bounds
                    # would let Spark's comparison coercion ROUND the
                    # column first, flagging min-0.9 as out of range
                    tr = F.when(
                        F.col(c) < 0, F.ceil(F.col(c))
                    ).otherwise(F.floor(F.col(c)))
                    hi_lit = F.lit(str(2 ** (bits - 1) - 1)).cast(
                        "decimal(38,0)"
                    )
                    lo_lit = F.lit(str(-(2 ** (bits - 1)))).cast(
                        "decimal(38,0)"
                    )
                    bad_val = (tr > hi_lit) | (tr < lo_lit)
                else:
                    d = F.col(c).cast("double")
                    hi_out = d >= float(2 ** (bits - 1))
                    if bits < 64:
                        lo_out = d <= float(-(2 ** (bits - 1)) - 1)
                    else:
                        lo_out = d < float(-(2 ** 63))
                    # NaN raises too, explicitly: a plain non-ANSI cast
                    # maps NaN to 0 — silent corruption, not truncation.
                    # (Spark's ordering already sends NaN into hi_out;
                    # the clause states the intent.)
                    bad_val = hi_out | lo_out | F.isnan(F.col(c))
                bad = F.col(c).isNotNull() & (cast.isNull() | bad_val)
                return F.when(
                    bad,
                    F.raise_error(F.concat(
                        F.lit(f"value overflows {w.simpleString()} "
                              f"column {c}: "),
                        F.col(c).cast("string"),
                    )).cast(w),
                ).otherwise(cast).alias(c)
            return cast.alias(c)

        return merged.select(*[conform(c) for c in merged.columns])

    def merge(
        self,
        source: DataFrame,
        columns: list[ColumnSpec],
        target_files: int = 4,
        max_retries: int = 3,
        pre_commit_hook=None,
        **kwargs,
    ) -> dict:
        """MERGE the batch into a new snapshot. Untouched files carry over
        by reference; affected files + the batch run the standard
        ``merge_upsert`` and are rewritten range-clustered. Returns the
        commit summary {version, files_rewritten, files_skipped,
        files_written, rows, relinked, write}; ``write`` is the layout
        ``_plan_write`` chose (single, bounds or sampled).

        Source preprocessing (url dedupe + cross-partition url-conflict
        guard) runs against the FULL current snapshot projected to
        (url, keys) — a narrow column scan over all files, matching
        merge_upsert_pruned's correctness argument: skipping never
        changes results because rows of non-intersecting files can only
        classify as 'kept', and the url guard never rewrites target rows.

        Concurrency: on ``CommitConflict`` (another writer claimed the
        version) the attempt's data directory is deleted and the WHOLE
        merge — preprocessing, file split, upsert — reruns against the
        winner's snapshot, up to ``max_retries`` times, so concurrent
        provider merges / a concurrent compactor all land without a
        lost update. ``pre_commit_hook`` (tests) runs between data write
        and manifest link — the window where conflicts surface."""
        return self._retrying(
            lambda: self._merge_attempt(
                source, columns, target_files, pre_commit_hook, dict(kwargs)
            ),
            max_retries,
        )

    def _merge_attempt(
        self,
        source: DataFrame,
        columns: list[ColumnSpec],
        target_files: int,
        pre_commit_hook,
        kwargs: dict,
    ) -> dict:
        m = self._manifest()
        self._refresh_props(m)
        keys = self.keys
        # writer idempotency (Delta's txnAppId/txnVersion): a retried
        # job — a foreachBatch micro-batch replayed after a crash
        # BETWEEN manifest link and checkpoint advance — supplies its
        # (app, version); if the table already recorded that version
        # or newer for the app, the whole merge is a no-op instead of
        # a double-apply
        txn_app = kwargs.pop("txn_app", None)
        txn_version = kwargs.pop("txn_version", None)
        txn = (str(txn_app), int(txn_version)) if txn_app is not None else None
        if txn is not None and (
            int((m.get("txns") or {}).get(txn[0], -(2**63))) >= txn[1]
        ):
            return self._noop_result(m, txn_skipped=True)
        # schema evolution (Delta's mergeSchema): NEW columns in the
        # ColumnSpec list are accepted only behind an explicit opt-in;
        # old files stay untouched (reads resolve by name and fill the
        # new columns with NULL via the manifest schema), the commit
        # records the widened schema
        allow_new = kwargs.pop("allow_new_columns", False)
        spec_schema = spark_schema(columns)
        table_schema = self._schema(m)
        new_fields = (
            [
                f
                for f in spec_schema.fields
                if f.name not in set(table_schema.fieldNames())
            ]
            if table_schema is not None
            else []
        )
        if new_fields and not allow_new:
            raise ValueError(
                f"merge adds new columns {[f.name for f in new_fields]} to "
                f"{self.root}; pass allow_new_columns=True to evolve the "
                "schema (old files are not rewritten — reads fill NULLs)"
            )
        if new_fields:
            # a new column's physical name must be globally fresh: old
            # files may still carry a dropped/renamed physical column
            # under this name with unrelated data
            taken = set(self.dropped_cols) | set(
                self.column_mapping.values()
            )
            bad = [f.name for f in new_fields if f.name in taken]
            if bad:
                raise ValueError(
                    f"new columns {bad} collide with physical column "
                    "names still present in old files (dropped or "
                    "renamed); pick different names"
                )
        # checkpoint BEFORE the emptiness probe so the probe's partial
        # job caches what it computes instead of re-deriving the source
        # lineage (often a whole netted change feed) on every later
        # action
        source = source.localCheckpoint(eager=False)
        # empty batch: nothing to rewrite, no new version (the
        # reference's loader likewise skips the upsert on an empty load)
        empty_noop = self._noop_result(m)
        rows_rejected = 0
        validate_rules = kwargs.pop("validate_rules", None)
        dedupe_on_url = (
            kwargs.pop("dedupe_source_on_url", True)
            and "url" in source.columns
        )
        guard_urls = (
            kwargs.pop("guard_url_conflicts", True) and "url" in source.columns
        )
        # NO up-front emptiness probe, even for url-guarded merges: the
        # dedicated head(1) ran the source's FIRST partition serially
        # (1.0 s of pipeline_end_to_end's merge — the whole clean
        # lineage of partition one on one core) while the boxes collect
        # was about to compute every partition in parallel anyway. The
        # empty-batch case it protected (don't pay the url guard's
        # table join on an empty source) is handled lazily: AQE
        # propagates the materialized-empty source side through the
        # guard join, and the rare boxes-empty outcome re-probes the
        # RAW source below only to preserve the historical result-dict
        # shape (empty load vs fully-eliminated batch).
        raw_source = source
        if validate_rules:
            # declarative ingestion gate: rows violating ANY row-level
            # rule are rejected BEFORE the merge (NULL predicate =
            # violation — an unknown value cannot be proven valid),
            # mirroring the reference's MediaStore validation-then-load.
            # Aggregate-grain rules (unique) belong to validate_unique.
            nonrow = [r.name for r in validate_rules if r.cond is None]
            if nonrow:
                raise ValueError(
                    f"rules {nonrow} have no row-level predicate; use "
                    "validate_unique / quality_report for aggregate rules"
                )
            ok = F.lit(True)
            for r in validate_rules:
                ok = ok & F.coalesce(r.cond(), F.lit(False))
            # one aggregate instead of head-count-filter-count: the
            # same numbers (and the emptiness probe) in a single job
            # over the checkpointed source
            row = source.agg(
                F.count(F.lit(1)).alias("__n"),
                F.sum(ok.cast("long")).alias("__ok"),
            ).head()
            if int(row["__n"]) == 0:
                return empty_noop
            rows_rejected = int(row["__n"]) - int(row["__ok"] or 0)
            source = source.filter(ok)
        if dedupe_on_url:
            source = distinct_on(source, ["url"], [F.col(k) for k in keys])
        if guard_urls:
            source = url_conflict_filter(source, self.read(m["version"]), keys)
        source = source.localCheckpoint(eager=False)
        summary = self._batch_summary(source)
        if summary.empty:
            # the batch is empty after validation/dedupe/guard.
            # Distinguish "empty load" (raw source empty — historical
            # plain noop dict) from "fully eliminated batch" (the
            # rows_rejected dict) exactly as the old up-front probe
            # did; the head(1) now runs ONLY on this rare empty
            # outcome, never on the hot non-empty path. validate_rules
            # already decided emptiness via its aggregate.
            if (
                not validate_rules and guard_urls
                and not raw_source.head(1)
            ):
                return empty_noop
            return self._noop_result(m, rows_rejected=rows_rejected)
        affected, untouched = _split(
            m["files"], lambda e: self._entry_hit(e, summary)
        )
        if kwargs.get("validate_unique"):
            # uniqueness repair must see the whole table (a url dup can
            # span a file the batch never touches) — disable skipping
            # for this commit and rewrite every file enforced
            affected, untouched = affected + untouched, []
        if affected:
            # pinned to the CURRENT table schema and DV-applied: only
            # live rows of affected files enter the upsert, and the
            # rewrite materializes their deletion vectors away
            target_slice = self._read_entries(affected, m)
            for f in new_fields:
                target_slice = target_slice.withColumn(
                    f.name, F.lit(None).cast(f.dataType)
                )
        else:
            target_slice = self.spark.createDataFrame([], spec_schema)
        merged = merge_upsert(
            target_slice,
            source,
            columns,
            keys=keys,
            dedupe_source_on_url=False,
            guard_url_conflicts=False,
            **kwargs,
        )

        merged = self._conform_widths(merged, table_schema, new_fields)
        # CHECK constraints reject the write before any file lands
        # (cost: one agg pass over the rewrite set — only when
        # constraints exist)
        self._enforce_constraints(merged, "merge")
        phys = self._to_physical(merged)
        plan = self._plan_write(summary, affected, target_files, phys.columns)
        data_dir, new_entries = self._write(phys, plan)
        mm, relinked = self._publish(
            m, affected, untouched, new_entries, "merge",
            # uniqueness repair read the WHOLE table and schema
            # evolution interacts with the winner's schema — both
            # always take the full rebase
            None if kwargs.get("validate_unique") or new_fields
            else lambda added, removed: self._merge_relink_safe(
                added, removed, summary, source if guard_urls else None
            ),
            [data_dir], pre_commit_hook, txn=txn,
            schema_json=merged.schema.json() if new_fields else None,
        )
        return self._commit_result(
            mm, len(affected), new_entries, relinked,
            rows_rejected=rows_rejected, write=plan.kind,
        )

    # -- conditional MERGE (ANSI WHEN clauses) --------------------------------

    def merge_when(
        self,
        source: DataFrame,
        *,
        update_set: dict | str | None = None,
        update_cond=None,
        delete_cond=None,
        insert: bool = True,
        insert_cond=None,
        target_alias: str = "t",
        source_alias: str = "s",
        target_files: int = 4,
        max_retries: int = 3,
        pre_commit_hook=None,
        check_duplicate_keys: bool = True,
        txn_app: str | None = None,
        txn_version: int | None = None,
    ) -> dict:
        """Conditional MERGE with ANSI/Delta WHEN-clause semantics —
        the general form the reference cannot express in one
        ``INSERT ... ON CONFLICT`` (it splits such logic across
        separate UPDATE/DELETE passes, ``loader/sql.py:214-332``):

          WHEN MATCHED AND <delete_cond> THEN DELETE
          WHEN MATCHED [AND <update_cond>] THEN UPDATE SET <update_set>
          WHEN NOT MATCHED [AND <insert_cond>] THEN INSERT *

        Clause order is Delta's: a matched row is tested against DELETE
        first, then UPDATE, else carried unchanged. Conditions and SET
        right-hand sides are SQL strings (or Columns) over the aliased
        target/source rows (defaults ``t``/``s``); a NULL condition is
        false (SQL). ``update_set`` may be ``"*"`` (every shared
        non-key column takes the source value) or ``{col: expr}``;
        merge keys cannot be SET (that would change row identity under
        the manifest's key clustering). Source keys must be unique —
        two source rows matching one target row is ambiguous and
        raises, exactly Delta's multiple-matches error
        (``check_duplicate_keys=False`` skips that one-aggregation
        guard for callers whose source is key-unique by construction —
        e.g. a view-maintenance delta keyed on the target's keys).
        ``INSERT *`` maps source columns by name and NULL-fills the
        rest.

        Physical work is the same file-skipping as ``merge``: only
        files whose key range intersects the batch rewrite; inserts
        can only land there too (a matching target key proves its file
        intersects the batch box), so unmatched detection against the
        affected slice alone is exact. Same optimistic concurrency,
        including the disjoint-files metadata-only re-link."""
        if update_set is None and delete_cond is None and not insert:
            raise ValueError("merge_when with no WHEN clause is a no-op")
        return self._retrying(
            lambda: self._merge_when_attempt(
                source, update_set, update_cond, delete_cond, insert,
                insert_cond, target_alias, source_alias, target_files,
                pre_commit_hook, check_duplicate_keys,
                (str(txn_app), int(txn_version))
                if txn_app is not None else None,
            ),
            max_retries,
        )

    def _merge_when_attempt(
        self, source, update_set, update_cond, delete_cond, insert,
        insert_cond, t_alias, s_alias, target_files, pre_commit_hook,
        check_duplicate_keys=True, txn=None,
    ) -> dict:
        def as_cond(c, default):
            if c is None:
                return F.lit(default)
            col = F.expr(c) if isinstance(c, str) else c
            return F.coalesce(col, F.lit(False))

        m = self._manifest()
        self._refresh_props(m)
        keys = self.keys
        schema = self._schema(m)
        table_cols = [f.name for f in schema.fields]
        missing = [k for k in keys if k not in source.columns]
        if missing:
            raise ValueError(f"source lacks merge key columns {missing}")
        noop = self._noop_result(m)
        if txn is not None and (
            int((m.get("txns") or {}).get(txn[0], -(2**63))) >= txn[1]
        ):
            return {**noop, "txn_skipped": True}
        # checkpoint FIRST so every downstream action (dup check, batch
        # boxes, the merge join, the clustered write) computes the
        # source lineage once and reads the cached blocks after;
        # emptiness is decided by _batch_summary below (its collect is
        # needed anyway) instead of a dedicated head(1) job
        source = source.localCheckpoint(eager=False)
        if update_set == "*":
            update_set = {
                c: F.col(f"{s_alias}.{c}")
                for c in table_cols
                if c in source.columns and c not in keys
            }
        if update_set:
            bad = set(update_set) & set(keys)
            if bad:
                raise ValueError(f"UPDATE SET cannot assign merge keys {sorted(bad)}")
            unknown = set(update_set) - set(table_cols)
            if unknown:
                raise ValueError(f"UPDATE SET of unknown columns {sorted(unknown)}")
            update_set = {
                c: (F.expr(e) if isinstance(e, str) else e)
                for c, e in update_set.items()
            }

        # duplicate-key detection rides the box aggregation (it was a
        # second wide shuffle over the source whose only output was a
        # boolean); boxes are identical — min/max don't care about row
        # multiplicity — so the affected-file split cannot move
        summary = self._batch_summary(source, check_dups=check_duplicate_keys)
        if summary.has_dup:
            raise ValueError(
                "merge_when source has duplicate merge keys — "
                "multiple source rows matching one target row is "
                "ambiguous (dedupe the source first)"
            )
        if summary.empty:
            return noop  # empty source: no box ⇔ no row
        affected, untouched = _split(
            m["files"], lambda e: self._entry_hit(e, summary)
        )
        tgt = (
            self._read_entries(affected, m) if affected
            else self.spark.createDataFrame([], schema)
        )
        if affected and insert:
            # the WHEN-clause rewrite references tgt TWICE — the
            # matched-side left join and the insert-side anti-join —
            # so the write's materialization pass read every affected
            # file twice. A lazy checkpoint makes the second subtree
            # read cached blocks: affected bytes come off storage once
            # per commit (at 100 TB the rewrite set is the dominant
            # read). merge() needs no twin: merge_upsert is a single
            # full-outer join over tgt. ACCEPTED TRADE-OFF (reviewed):
            # localCheckpoint stores blocks executor-locally with
            # truncated lineage, so on a real cluster an executor loss
            # after materialization fails this commit attempt — the
            # optimistic-retry loop then recomputes the whole attempt;
            # persist(MEMORY_AND_DISK) would keep lineage but pins the
            # slice through the commit either way.
            tgt = tgt.localCheckpoint(eager=False)
        marked = source.withColumn("__src_match", F.lit(1)).alias(s_alias)
        t = tgt.alias(t_alias)
        on = [
            F.col(f"{t_alias}.{k}") == F.col(f"{s_alias}.{k}")
            for k in keys
        ]
        joined = t.join(marked, on, "left")
        matched = F.col("__src_match").isNotNull()
        do_delete = matched & as_cond(delete_cond, False)
        do_update = (
            matched & ~as_cond(delete_cond, False)
            & as_cond(update_cond, True)
            if update_set else F.lit(False)
        )
        out = joined.filter(~do_delete).select(
            *[
                (
                    F.when(do_update, update_set[c])
                    .otherwise(F.col(f"{t_alias}.{c}"))
                    if update_set and c in update_set
                    else F.col(f"{t_alias}.{c}")
                ).alias(c)
                for c in table_cols
            ]
        )
        if insert:
            anti = (
                source.alias(s_alias)
                .join(tgt.select(*keys), on=list(keys), how="left_anti")
            )
            if insert_cond is not None:
                anti = anti.filter(as_cond(insert_cond, False))
            by_name = {f.name: f.dataType for f in schema.fields}
            ins = anti.select(
                *[
                    (
                        F.col(c) if c in anti.columns
                        else F.lit(None).cast(by_name[c])
                    ).alias(c)
                    for c in table_cols
                ]
            )
            # conform the INSERT side BEFORE the union (the old bare
            # pre-cast silently wrapped out-of-range values). Doing it
            # here rather than relying on the write-boundary conform
            # keeps the union coercion-free: both sides already carry
            # the table's widths, so the outer conform is a no-op and
            # the per-row guard runs over insert rows only, never the
            # (usually much larger) rewritten-target side
            ins = self._conform_widths(ins, schema, [])
            out = out.unionByName(ins)
        # UPDATE SET expressions can widen a column (when/otherwise
        # coercion); keep every written file at the manifest width
        out = self._conform_widths(out, schema, [])
        self._enforce_constraints(out, "merge_when")
        # write FIRST instead of probing emptiness with head(1): the
        # probe cost a full extra pass over the merge join
        phys = self._to_physical(out)
        plan = self._plan_write(summary, affected, target_files, phys.columns)
        data_dir, new_entries = self._write(phys, plan)
        if not new_entries and not affected:
            shutil.rmtree(data_dir, ignore_errors=True)
            return noop
        mm, relinked = self._publish(
            m, affected, untouched, new_entries, "merge_when",
            lambda added, removed: self._merge_relink_safe(
                added, removed, summary, None
            ),
            [data_dir], pre_commit_hook, txn=txn,
        )
        return self._commit_result(
            mm, len(affected), new_entries, relinked, write=plan.kind
        )

    # -- predicated UPDATE / DELETE (batched_update / delete_records) -------

    def _files_matching(self, m: dict, condition) -> tuple[list[dict], list[dict]]:
        """Split the snapshot's files into (touched, carried) for an
        arbitrary predicate: ONE scan tagged with input_file_name finds
        the files containing at least one matching row — Delta's
        UPDATE/DELETE strategy. The collect is bounded by the FILE
        count, never rows."""
        paths = [self._abs(e['path']) for e in m["files"]]
        if not paths:
            return [], []
        hits = (
            self._scan(paths, m)
            .filter(condition)
            .select(F.input_file_name().alias("__f"))
            .distinct()
            .collect()
        )
        hit_paths = {
            "/" + r["__f"].removeprefix("file:").lstrip("/") for r in hits
        }
        return _split(m["files"], lambda e: self._abs(e["path"]) in hit_paths)

    def update(
        self,
        condition,
        set_exprs: dict,
        target_files: int = 4,
        max_retries: int = 3,
        pre_commit_hook=None,
        mode: str = "copy",
    ) -> dict:
        """Predicated UPDATE: rows matching ``condition`` get each
        column in ``set_exprs`` replaced by its expression; everything
        else — including non-matching rows inside touched files — is
        carried byte-for-byte in value. SQL/Delta UPDATE semantics:
        every SET right-hand side is evaluated against the OLD row (one
        select, not sequential withColumn), so
        ``{a: col('b'), b: col('a')}`` swaps. Only files containing a
        match are rewritten (one find-scan + rewrite, the reference's
        batched_update run as a snapshot commit instead of row-batch
        UPDATEs holding locks). Same optimistic-concurrency retry as
        merge.

        ``mode="dv"`` (merge-on-read): instead of rewriting touched
        files, mark the old rows' positions in a deletion vector and
        append one small file holding the updated rows — bytes written
        scale with the MATCH count, not the touched files' size."""
        return self._rewrite_op(
            "update", condition, set_exprs, target_files, max_retries,
            pre_commit_hook, mode=mode,
        )

    def delete(
        self,
        condition,
        target_files: int = 4,
        max_retries: int = 3,
        pre_commit_hook=None,
        audit_path: str | None = None,
        reason: str | None = None,
        mode: str = "copy",
    ) -> dict:
        """Predicated DELETE: drop rows matching ``condition`` (NULL
        condition = keep, SQL semantics); files with no match carry by
        reference — the reference's delete_records maintenance DAG as a
        copy-on-write commit, with the deleted rows still readable in
        older snapshots until vacuum.

        ``audit_path`` archives the victims — appended as parquet with
        ``deleted_reason``/``deleted_on`` columns, the reference's
        deleted-media side table (rows move, they don't vanish). The
        archive is written by the attempt that COMMITS (inside the
        retry loop, after the manifest link), so after a conflict
        rebase the audited set is exactly the committed delete's victim
        set — each committed delete audits its own rows exactly once. A
        crash between manifest link and audit write can lose that
        commit's audit rows (commit-then-audit is not atomic across two
        stores); treat the audit as best-effort or reconcile from
        snapshot diffs.

        ``mode="dv"`` (merge-on-read, Delta's deletion vectors): a
        10-row takedown on a 1M-row file writes a tiny (file, pos)
        sidecar instead of rewriting the file — write amplification
        drops from O(touched file bytes) to O(rows deleted). Readers
        anti-apply the vector; ``compact`` materializes it away; the
        change feed emits the same logical deltas either mode."""
        return self._rewrite_op(
            "delete", condition, None, target_files, max_retries,
            pre_commit_hook, audit_path=audit_path, reason=reason,
            mode=mode,
        )

    def _rewrite_op(
        self, op, condition, set_exprs, target_files, max_retries,
        pre_commit_hook, audit_path=None, reason=None, mode="copy",
    ) -> dict:
        if mode not in ("copy", "dv"):
            raise ValueError(f"mode must be 'copy' or 'dv', got {mode!r}")
        return self._retrying(
            lambda: self._rewrite_attempt(
                op, condition, set_exprs, target_files, pre_commit_hook,
                audit_path, reason, mode,
            ),
            max_retries,
        )

    def _rewrite_attempt(
        self, op, condition, set_exprs, target_files, pre_commit_hook,
        audit_path, reason, mode,
    ) -> dict:
        """One predicated UPDATE/DELETE attempt. One find-scan marks the
        touched files. ``mode="copy"`` rewrites them without the
        deleted rows, or with the updated ones.

        ``mode="dv"`` (merge-on-read): victims die by POSITION in a
        deletion-vector sidecar instead. The victims' (file, pos)
        identities — unioned with any vector those files already carry,
        vectors are CUMULATIVE per file — land in one tiny parquet
        sidecar under data/; touched entries keep their data file but
        record {dv, rows(live), phys}. An update additionally appends
        one small file holding the updated rows. Bytes written scale
        with the match count, never the touched files' size (the
        reference deletes in place in Postgres, ``loader/sql.py``; at
        100 TB this is the analog that avoids rewriting a 1 GB file to
        drop 10 rows)."""
        m = self._manifest()
        self._refresh_props(m)
        touched, carried = self._files_matching(m, condition)
        if not touched:
            return self._noop_result(m)
        hit = F.coalesce(condition, F.lit(False))
        if mode == "copy":
            src = self._read_entries(touched, m)
            victims = src.filter(hit)
        else:
            raw = self._scan(
                [self._abs(e["path"]) for e in touched], m, positions=True
            )
            old_pos = self._dv_positions(touched)
            live = raw
            if old_pos is not None:
                live = raw.join(
                    self._dv_hint(old_pos, touched),
                    (raw["__dv_file"] == old_pos["file"])
                    & (raw["__dv_pos"] == old_pos["pos"]),
                    "left_anti",
                )
            src = live.filter(hit).localCheckpoint(eager=False)
            victims = src.drop("__dv_file", "__dv_pos")
        if op == "update":
            unknown = set(set_exprs) - set(victims.columns)
            if unknown:
                raise ValueError(
                    f"UPDATE sets unknown columns {sorted(unknown)}; "
                    "evolve the schema via merge(allow_new_columns=True)"
                )
        dirs, dv_entries, extra = [], [], {}
        if mode == "copy":
            # every SET RHS sees the OLD row: one select over the
            # original columns (sequential withColumn would leak a
            # newly-set value into a later expression). A delete that
            # emptied every touched file writes no part files, so the
            # commit simply drops them
            out = src.select(
                *[
                    F.when(condition, set_exprs[c])
                    .otherwise(F.col(c))
                    .alias(c)
                    if c in set_exprs
                    else F.col(c)
                    for c in src.columns
                ]
            ) if op == "update" else src.filter(~hit)
            # range bounds derive from the touched entries' own stats
            # (for a delete the weights overcount the surviving rows —
            # balance only, never correctness)
            rewritten = touched
        else:
            allpos = src.select(
                F.col("__dv_file").alias("file"),
                F.col("__dv_pos").alias("pos"),
            )
            if old_pos is not None:
                # carry forward the touched files' existing vectors so
                # each file's newest DV stays its complete cumulative set
                bases = [
                    _data_rel(e["path"]) for e in touched if e.get("dv")
                ]
                allpos = allpos.unionByName(
                    old_pos.filter(F.col("file").isin(bases))
                ).distinct()
            rel_dv = f"data/dv{uuid.uuid4().hex[:12]}"
            dv_dir = f"{self.root}/{rel_dv}"
            allpos.coalesce(1).write.mode("error").parquet(dv_dir)
            dead = {
                r["file"]: r["n"]
                # explicit schema: a no-victim no-prior-DV write leaves
                # a part-less dir, which schema inference would reject
                for r in self.spark.read.schema(allpos.schema)
                .parquet(dv_dir)
                .groupBy("file").agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            n_dv_changed = 0
            for e in touched:
                n_dead = dead.get(_data_rel(e["path"]), 0)
                old_dead = (e.get("dv") or {}).get("deleted", 0)
                if n_dead == old_dead:
                    dv_entries.append(e)  # flagged by the raw scan only
                    continue
                n_dv_changed += 1
                phys = e.get("phys", e["rows"] + old_dead)
                if phys - n_dead <= 0:
                    continue  # fully dead file: drop the entry outright
                dv_entries.append(
                    {
                        **e,
                        "rows": phys - n_dead,
                        "phys": phys,
                        "dv": {"path": rel_dv, "deleted": n_dead},
                    }
                )
            if n_dv_changed == 0:
                # every matching row was already DV-dead: nothing to
                # commit (no dedicated head(1) probe — emptiness falls
                # out of the per-file dead counts, computed anyway)
                shutil.rmtree(dv_dir, ignore_errors=True)
                return self._noop_result(m)
            dirs, extra = [dv_dir], {"files_dv": n_dv_changed}
            # every victim matches the predicate, so SET applies
            # unconditionally — each RHS still sees only OLD columns;
            # a delete writes no data file
            out = victims.select(
                *[
                    (set_exprs[c] if c in set_exprs else F.col(c)).alias(c)
                    for c in victims.columns
                ]
            ) if op == "update" else None
            rewritten = []
        if op == "update":
            # SET expressions can widen (when/otherwise coercion) —
            # conform to the manifest width before writing
            out = self._conform_widths(out, self._schema(m), [])
            self._enforce_constraints(out, "update")
        new_entries, plan = [], None
        if out is not None:
            phys_df = self._to_physical(out)
            plan = self._plan_write(
                None, rewritten, target_files, phys_df.columns
            )
            data_dir, new_entries = self._write(phys_df, plan)
            dirs.append(data_dir)
        mm, relinked = self._publish(
            m, touched, carried, dv_entries + new_entries, op,
            lambda added, removed: self._predicate_relink_safe(
                added, condition
            ),
            dirs, pre_commit_hook,
        )
        if op == "delete" and audit_path is not None:
            # audit AFTER the commit so only the attempt that actually
            # committed writes its victim set (a conflict-losing attempt
            # recomputes victims against the winner's snapshot on retry
            # and must not have audited the stale set). The touched old
            # files remain on disk until vacuum, so the slice is still
            # readable here.
            (
                victims.withColumn("deleted_reason", F.lit(reason))
                .withColumn("deleted_on", F.current_timestamp())
                .write.mode("append")
                .parquet(audit_path)
            )
        return self._commit_result(
            mm, len(rewritten), new_entries, relinked,
            write=plan.kind if plan else None, **extra,
        )

    # -- maintenance --------------------------------------------------------

    def compact(
        self,
        target_rows: int = 1_000_000,
        max_retries: int = 3,
        pre_commit_hook=None,
        zorder_by=None,
        zorder_bits: int = 8,
        zorder_where: dict | None = None,
        zorder_incremental: bool = False,
    ) -> dict:
        """OPTIMIZE: bin-pack small files (rows < target_rows) into
        range-clustered files near target size; files already at size
        carry into the new snapshot by reference. A metadata-plus-
        rewrite-of-small-files commit — the data is bit-identical, so
        readers pinned to the old version and readers of the new one see
        the same rows. Counters the small-file accumulation every
        streaming/merge ingest path produces (each micro-batch MERGE
        writes its own files; scan cost grows with file count, not
        bytes). Returns {version, files_compacted, files_kept,
        files_written, rows, relinked, write, retightened}; no new
        version if <2 small files exist.

        OPTIMIZE ZORDER: pass ``zorder_by=["x", "y"]`` to rewrite files
        clustered on the Morton interleave of the named columns
        (bucketized to ``zorder_bits`` bits each) instead of the
        merge-key range — Delta's OPTIMIZE ZORDER BY with plain Spark
        primitives (operators/layout.py). Bucket bounds come from the
        MANIFEST's per-file stats over the files being rewritten (the
        same stats ``read_where`` prunes on), so no manual ranges; the
        legacy ``{col: (lo, hi)}`` dict form still pins them by hand.
        Pair with ``stats_cols`` on the same columns: per-file ranges
        for ALL the z columns tighten, so ``read_where`` prunes on any
        of them.

        ``zorder_where={col: bound, ...}`` (read_where's constraint
        syntax) scopes the rewrite: only files intersecting the
        predicate re-cluster, every other file carries by reference —
        OPTIMIZE stops being the one remaining O(table) maintenance op
        and becomes O(partition), e.g. z-ordering only the provider
        that just back-filled.

        ``zorder_incremental=True`` (Delta's liquid-clustering
        economics): files ALREADY written under the identical cluster
        spec — same columns, bits and bucket bounds, recorded per
        manifest entry at z-write time — carry by reference and only
        unclustered files (the merges since the last OPTIMIZE) rewrite,
        so steady-state OPTIMIZE cost is O(new data), not O(table).
        Bucket bounds are pinned by the FIRST clustering run and reused
        thereafter (out-of-bounds values clamp to the edge buckets), so
        the z-curve stays comparable across runs; old and new clustered
        files overlap in z-range, which costs some skipping precision —
        run a non-incremental OPTIMIZE occasionally to re-tighten.

        Trade-off, exactly as in Delta: z-clustering widens the
        merge-key ranges per file, weakening MERGE file-skipping —
        include keys[0] in the z set (or zorder per-partition via
        ``zorder_where``) when merge skipping matters more.

        Concurrency: same optimistic protocol as ``merge`` — a conflict
        (e.g. a provider merge landed mid-compaction) discards the
        attempt's files and re-plans compaction against the new
        snapshot, so a compactor can run alongside live ingestion."""
        out = self._retrying(
            lambda: self._compact_attempt(
                target_rows, pre_commit_hook, zorder_by, zorder_bits,
                zorder_where, zorder_incremental,
            ),
            max_retries,
        )
        # OPTIMIZE's own names for the rewritten / carried file counts
        out["files_compacted"] = out.pop("files_rewritten")
        out["files_kept"] = out.pop("files_skipped")
        return out

    def _zorder_bounds(
        self, entries: list[dict], cols, m: dict
    ) -> dict[str, tuple]:
        """(lo, hi) per z column from the manifest stats of the files
        being rewritten — the bounds OPTIMIZE ZORDER buckets against,
        computed from metadata the table already maintains."""
        out: dict[str, tuple] = {}
        for c in cols:
            los, his = [], []
            for e in entries:
                b = self._col_bounds(e, c)
                if b is None:
                    raise ValueError(
                        f"zorder_by column {c!r} has no per-file "
                        "stats; create the table with stats_cols "
                        f"including it (have: {m.get('stats_cols')}) "
                        "or pass explicit bounds as {col: (lo, hi)}"
                    )
                lo, hi = b
                if lo is not None:
                    los.append(lo)
                if hi is not None:
                    his.append(hi)
            if not los:
                raise ValueError(
                    f"zorder_by column {c!r} is all-NULL in the files "
                    "being rewritten"
                )
            lo, hi = min(los), max(his)
            if not isinstance(lo, (int, float)) or isinstance(lo, bool):
                raise ValueError(
                    f"zorder_by column {c!r} is non-numeric "
                    f"({type(lo).__name__}); Morton bucketing needs a "
                    "numeric range — hash or dictionary-encode the "
                    "column first"
                )
            out[c] = (lo, hi)
        return out

    def _compact_attempt(
        self, target_rows: int, pre_commit_hook, zorder_by=None,
        zorder_bits: int = 8, zorder_where=None,
        zorder_incremental: bool = False,
    ) -> dict:
        m = self._manifest()
        self._refresh_props(m)
        if zorder_where is not None and not zorder_by:
            raise ValueError("zorder_where requires zorder_by")
        cluster_tag = None
        bounds_reused = False
        retightened = False
        measure_entries = None  # drift-measured slice (fresh churn only)
        if zorder_by:
            if zorder_where is not None:
                # predicate-scoped OPTIMIZE: only files intersecting the
                # constraint re-cluster — O(partition), not O(table)
                small, keep = self.read_where(zorder_where, _split=True)
            else:
                small, keep = list(m["files"]), []
            z_cols = (
                list(zorder_by) if not isinstance(zorder_by, dict)
                else list(zorder_by.keys())
            )
            if zorder_incremental and not isinstance(zorder_by, dict):
                # DRIFT GATE: incremental runs accumulate how many rows
                # they wrote clamped OUTSIDE the pinned bucket bounds;
                # the recorded fraction is that mass relative to the
                # TABLE's live rows (churn-relative gating would fire
                # on every tick for a monotonic-append z column). Past
                # the threshold the pinned bounds describe yesterday's
                # data and skip precision is silently rotting — this
                # run recomputes bounds from current stats (plus
                # headroom, so steady append doesn't re-drift at once)
                # and re-clusters EVERYTHING in scope (old-bounds files
                # can't carry: their tag no longer matches), the
                # occasional-full-OPTIMIZE the docs used to leave to
                # the operator.
                prev = m.get("zorder_clamp")
                drifted = bool(
                    prev
                    and prev.get("cols") == z_cols
                    and prev.get("bits") == zorder_bits
                    and prev.get("fraction", 0.0) > ZORDER_CLAMP_RETIGHTEN
                )
                if drifted:
                    retightened = True
                else:
                    # reuse the bounds pinned by the first clustering
                    # run (bucket boundaries must not drift between
                    # runs, or old and new z-values stop comparing)
                    for e in m["files"]:
                        t = e.get("cluster")
                        if (
                            t
                            and t.get("cols") == z_cols
                            and t.get("bits") == zorder_bits
                        ):
                            zorder_by = {
                                c: tuple(b) for c, b in t["bounds"].items()
                            }
                            bounds_reused = True
                            break
            if not isinstance(zorder_by, dict):
                zorder_by = (
                    self._zorder_bounds(small, tuple(zorder_by), m)
                    if small
                    else {}
                )
                if retightened:
                    # headroom: pad the freshly derived ranges so the
                    # next batches of a drifting (e.g. monotonic) z
                    # column land inside the pinned bounds for a while
                    # instead of re-drifting on the next tick
                    zorder_by = {
                        c: _pad_zorder_bounds(lo, hi)
                        for c, (lo, hi) in zorder_by.items()
                    }
            cluster_tag = {
                "cols": z_cols,
                "bits": zorder_bits,
                "bounds": {c: list(b) for c, b in zorder_by.items()},
            }
            if zorder_incremental:
                matching, fresh_in = _split(
                    small, lambda e: e.get("cluster") == cluster_tag
                )
                # already-clustered files normally carry by reference,
                # but they must not escape maintenance forever: DV
                # carriers re-enter (the rewrite is what materializes
                # vectors away) and tagged SMALL files re-enter when
                # bin-packing would actually REDUCE their count — the
                # convergence criterion, without which a set of files
                # already packed at ~target size would rewrite on every
                # tick forever. Their rows are NOT re-measured for
                # drift below — the out-of-bounds mass was counted when
                # first clustered.
                dv_rehab = [e for e in matching if e.get("dv")]
                small_tagged = [
                    e for e in matching
                    if not e.get("dv") and e["rows"] < target_rows
                ]
                packed = -(-sum(
                    e["rows"] for e in small_tagged
                ) // target_rows) if small_tagged else 0
                rehab = dv_rehab + (
                    small_tagged
                    if len(small_tagged) >= 2
                    and packed < len(small_tagged)
                    else []
                )
                rehab_paths = {e["path"] for e in rehab}
                measure_entries = fresh_in
                small = fresh_in + rehab
                keep = keep + [
                    e for e in matching if e["path"] not in rehab_paths
                ]
        else:
            # deletion-vector carriers are compaction candidates
            # regardless of size: OPTIMIZE is what materializes DVs
            small, keep = _split(
                m["files"], lambda e: e["rows"] < target_rows or e.get("dv")
            )
        # bin-packing needs >= 2 small files to be worth a commit; a
        # z-order rewrite is meaningful even for one file (row order
        # inside it changes, so row-group pruning improves)
        if len(small) < (1 if zorder_by else 2):
            return self._noop_result(m, retightened=False)
        small_rows = sum(e["rows"] for e in small)
        n_files = max(1, -(-small_rows // target_rows))
        # schema-pinned (mixed pre-evolution files) + DV-applied: the
        # rewrite materializes deletion vectors away
        df = self._read_entries(small, m)
        clamp_doc = None
        if zorder_by:
            # bounds freshly computed from the rewritten files' stats
            # cover every row by construction: drift resets
            drifted_rows = 0
            if bounds_reused:
                # measure drift: COUNT of rewritten rows falling
                # outside the pinned bounds on ANY z column, one agg
                # over the (churn-sized) rewrite slice — the same rows
                # the rewrite is about to scan anyway. The count
                # ACCUMULATES across incremental runs under the same
                # spec (each run only sees its own churn; the drifted
                # mass already written under old bounds persists), and
                # the gate fraction is that total over the TABLE's
                # live rows. Semantics: the counter tallies CLAMPED
                # WRITES since the last retighten. A merge that
                # rewrites an already-counted clustered file re-exposes
                # those rows as churn and this path clamp-writes them
                # AGAIN — the re-count mirrors real rewrite work wasted
                # on out-of-bounds data, which is exactly what the gate
                # weighs against a full re-cluster. maintain() compacts
                # z-maintained tables through this same incremental
                # path, so routine bin-packing never untags files and
                # never inflates the counter.
                flags = [
                    F.coalesce(
                        ((F.col(c) < F.lit(lo)) | (F.col(c) > F.lit(hi)))
                        .cast("int"),
                        F.lit(0),
                    )
                    for c, (lo, hi) in zorder_by.items()
                ]
                out_row = (
                    flags[0] if len(flags) == 1 else F.greatest(*flags)
                )
                # measure FRESH churn only: rehabilitated tagged files
                # (DV materialization / small-file bin-packing) were
                # counted when first clustered
                n_out = 0
                if measure_entries:
                    n_out = self._read_entries(measure_entries, m).agg(
                        F.sum(out_row).alias("n")
                    ).head()["n"]
                prev_c = m.get("zorder_clamp")
                carry = (
                    int(prev_c.get("drifted_rows", 0))
                    if prev_c
                    and prev_c.get("cols") == z_cols
                    and prev_c.get("bits") == zorder_bits
                    else 0
                )
                drifted_rows = carry + int(n_out or 0)
            clamp_doc = {
                "cols": z_cols, "bits": zorder_bits,
                "drifted_rows": drifted_rows,
                "fraction": drifted_rows / max(1, int(m["rows"])),
            }
            from openverse_catalog_spark.operators.layout import (
                minmax_bucket,
                zvalue,
            )

            buckets = [
                minmax_bucket(F.col(c), lo, hi, zorder_bits)
                for c, (lo, hi) in zorder_by.items()
            ]
            # a hidden-partitioned table z-orders WITHIN partitions:
            # the partition tuple leads the clustering, so OPTIMIZE
            # ZORDER never un-purifies files (the z-curve clusters
            # inside each partition's files)
            phys = self._to_physical(
                df.withColumn("__z", zvalue(buckets, zorder_bits))
            )
            plan = self._plan_write(None, small, n_files, order=("__z",))
        else:
            # bin-packing many small files into few: the compacted
            # entries' own stats are file-grain candidates, so the
            # range split needs no sampling pass
            phys = self._to_physical(df)
            plan = self._plan_write(None, small, n_files, phys.columns)
        data_dir, new_entries = self._write(phys, plan)
        if cluster_tag is not None:
            # stamp the spec each file was clustered under — what a
            # later zorder_incremental run skips on (and reuses the
            # bounds of)
            for e in new_entries:
                e["cluster"] = cluster_tag
        mm, relinked = self._publish(
            m, small, keep, new_entries, "compact",
            # compaction output is data-identical to its input files,
            # so a lost compaction is ALWAYS re-linkable when those
            # inputs survived the winner unchanged — winner-added small
            # files simply stay uncompacted until the next tick
            lambda added, removed: True,
            [data_dir], pre_commit_hook, zorder_clamp=clamp_doc,
        )
        return self._commit_result(
            mm, len(small), new_entries, relinked,
            retightened=retightened, write=plan.kind,
        )

    def analyze(
        self,
        cols: list[str] | None = None,
        approx: bool = False,
        kmv_k: int | None = None,
    ) -> dict:
        """ANALYZE TABLE: per-column NDV / null count / min / max plus
        the row count, computed in ONE aggregation pass over the
        current snapshot and stored VERSION-PINNED beside the log
        (``stats/v<N>.json``, tmp+rename) — the cost-based inputs the
        reference gets from Postgres's autoanalyze (pg_stats drives its
        query plans) and Spark's CBO reads from the catalog. A planner
        (or a human) uses them for the broadcast-vs-shuffle call: an
        NDV-bounded dim under the broadcast threshold is the
        ``read_join_pruned`` / ``F.broadcast`` candidate.

        ``approx=False`` (default) uses exact count(DISTINCT) — still
        one pass, but NDV state is per-column distinct sets; at true
        100 TB switch ``approx=True`` (HyperLogLog++
        approx_count_distinct, bounded state, same plan shape). Stats
        describe the snapshot they were computed at; ``stats()``
        returns the newest at-or-below the asked version so time-travel
        readers never see future statistics."""
        df = self.read()
        if cols is None:
            cols = [f.name for f in df.schema.fields]
        ndv = (
            F.approx_count_distinct if approx else F.countDistinct
        )
        aggs: list = [F.count(F.lit(1)).alias("__rows")]
        for c in cols:
            aggs += [
                ndv(F.col(c)).alias(f"__ndv_{c}"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"__nul_{c}"),
                F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
                F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
            ]
        row = df.agg(*aggs).head()
        v = self.version
        doc = {
            "version": v,
            "rows": int(row["__rows"]),
            "approx": bool(approx),
            "columns": {
                c: {
                    "ndv": int(row[f"__ndv_{c}"]),
                    "nulls": int(row[f"__nul_{c}"]),
                    "min": row[f"__min_{c}"],
                    "max": row[f"__max_{c}"],
                }
                for c in cols
            },
        }
        if kmv_k:
            # seed per-column KMV NDV sketches so analyze_incremental
            # can advance NDV without rescanning: ONE pass tags every
            # (col, hash60(value)) pair and keeps each column's k
            # smallest distinct hashes (mergeable — see sketches.kmv_*)
            doc["kmv_k"] = int(kmv_k)
            doc["kmv"] = self._kmv_sketches(df, cols, kmv_k)
            doc["deletes_since_full"] = 0
        os.makedirs(f"{self.root}/stats", exist_ok=True)
        tmp = f"{self.root}/stats/.tmp.{uuid.uuid4().hex}.json"
        with open(tmp, "w") as f:
            json.dump(doc, f, indent=1)
        os.replace(tmp, f"{self.root}/stats/v{v}.json")
        return doc

    def _kmv_sketches(
        self, df: DataFrame, cols: list[str], k: int
    ) -> dict[str, list[int]]:
        """Per-column KMV sketches in ONE pass: explode each row into
        (col, hash) pairs, distinct them (map-side combined), keep each
        column's k smallest via a bounded window. State is k longs per
        column."""
        from pyspark.sql import Window

        from openverse_catalog_spark.functions.hashing import hash60

        pairs = df.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.when(
                            F.col(c).isNotNull(),
                            hash60(
                                F.concat(
                                    F.lit("kmv|"),
                                    F.col(c).cast("string"),
                                )
                            ),
                        ).alias("h"),
                    )
                    for c in cols
                ])
            ).alias("p")
        ).select("p.col", "p.h").filter(F.col("h").isNotNull()).distinct()
        w = Window.partitionBy("col").orderBy("h")
        top = (
            pairs.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .select("col", "h")
            .collect()
        )
        out: dict[str, list[int]] = {c: [] for c in cols}
        for r in top:
            out[r["col"]].append(int(r["h"]))
        return {c: sorted(v) for c, v in out.items()}

    def analyze_incremental(
        self,
        cols: list[str] | None = None,
        kmv_k: int = 1024,
    ) -> dict:
        """ANALYZE advanced from the CHANGE FEED in O(churn) — the
        statistics analog of the incremental materialized view, so a
        100 TB table keeps planner stats fresh at ingest cadence
        instead of rescanning per ANALYZE (Postgres autoanalyze runs on
        a sample for the same reason):

        * rows / per-column null counts: EXACT — additive ±1-weighted
          sums over the feed span;
        * min / max: EXACT — inserts extend the bound; a removed value
          tying it triggers a recompute of just the tied columns (one
          column-pruned pass, the MV min/max trick);
        * NDV: a mergeable per-column KMV sketch (seeded by the last
          full ``analyze(kmv_k=...)``) absorbs inserted values; deletes
          cannot leave a sketch, so after deletes NDV reads as an UPPER
          bound of the live count. ``deletes_since_full`` records the
          drift, and past ``STATS_NDV_RETIGHTEN`` (fraction of live
          rows deleted since the last full seed) THIS call escalates
          itself to a full ANALYZE — exact NDV, fresh sketches, drift
          counter reset — so the bound self-corrects at a bounded
          cadence instead of waiting on an operator.

        A vacuumed feed span falls back to a full ``analyze``. The
        advanced doc is stored version-pinned like any ANALYZE, so
        the facade's stats-driven broadcast planning consumes it
        transparently."""
        from openverse_catalog_spark.operators.sketches import (
            KMV_SPACE,
            kmv_sql,
        )

        prev = self.stats()
        v_to = self.version
        if prev is None or "kmv" not in prev:
            return self.analyze(cols, approx=False, kmv_k=kmv_k)
        if cols is None:
            cols = list(prev["columns"])
        if prev["version"] >= v_to:
            return prev
        # schema comes from the MANIFEST (one JSON already resolved),
        # never from planning a snapshot read — the stats tick must
        # cost metadata, not O(files) footer resolution
        m_sch = self._schema(self._manifest(v_to))
        live_fields = (
            {f.name: f for f in m_sch.fields}
            if m_sch is not None
            else {f.name: f for f in self.read(v_to).schema.fields}
        )
        if any(c not in prev["columns"] or c not in live_fields
               for c in cols):
            # schema evolved since the seed (column dropped/renamed/
            # added) or the caller asks for unseeded columns: re-seed
            # with a full analyze instead of crashing the stats loop
            keep = [c for c in cols if c in live_fields]
            return self.analyze(keep or None, approx=False, kmv_k=kmv_k)
        try:
            feed = self.read_changes(prev["version"], v_to)
        except RetentionError:
            # stats seed fell behind CDF retention: re-seed full scan.
            # Other ValueErrors are real bugs and propagate
            return self.analyze(cols, approx=False, kmv_k=kmv_k)
        w = F.when(
            F.col("_change_type").isin("insert", "update_postimage"),
            F.lit(1),
        ).otherwise(F.lit(-1))
        aggs = [
            F.coalesce(F.sum(w), F.lit(0)).alias("__d_rows"),
            F.coalesce(
                F.sum(F.when(w < 0, 1).otherwise(0)), F.lit(0)
            ).alias("__d_dels"),
        ]
        # merge the feed's native-typed insert/remove bounds with the
        # stored (stringified) bounds IN SPARK: prev strings cast back
        # to the column's type, least/greatest compare with the
        # column's own ordering — no driver-side lexical comparison of
        # stringified numerics (where "99" > "100")
        schema = live_fields
        for c in cols:
            col = F.col(c)
            dt = schema[c].dataType
            prev_mn = F.lit(prev["columns"][c]["min"]).cast(dt)
            prev_mx = F.lit(prev["columns"][c]["max"]).cast(dt)
            ins_mn = F.min(F.when(w > 0, col))
            ins_mx = F.max(F.when(w > 0, col))
            rm_mn = F.min(F.when(w < 0, col))
            rm_mx = F.max(F.when(w < 0, col))
            new_mn = F.least(prev_mn, ins_mn)
            new_mx = F.greatest(prev_mx, ins_mx)
            aggs += [
                F.coalesce(
                    F.sum(F.when(col.isNull(), w)), F.lit(0)
                ).alias(f"__d_nul_{c}"),
                new_mn.cast("string").alias(f"__new_min_{c}"),
                new_mx.cast("string").alias(f"__new_max_{c}"),
                # a removed value AT the merged bound is the only way
                # the true bound can have shrunk -> exact recompute
                (rm_mn.isNotNull() & (
                    new_mn.isNull() | (rm_mn <= new_mn)
                )).alias(f"__tie_min_{c}"),
                (rm_mx.isNotNull() & (
                    new_mx.isNull() | (rm_mx >= new_mx)
                )).alias(f"__tie_max_{c}"),
            ]
        row = feed.agg(*aggs).head()
        k = int(prev.get("kmv_k") or kmv_k)
        new_rows = int(prev["rows"]) + int(row["__d_rows"])
        dels = int(prev.get("deletes_since_full", 0)) + int(
            row["__d_dels"]
        )
        if dels > STATS_NDV_RETIGHTEN * max(1, new_rows):
            # NDV drift gate, checked the moment the delete count is
            # known (before sketch merges and min/max bound repair —
            # escalation must not pay for work it throws away): enough
            # of the corpus was deleted since the last full seed that
            # the sketch NDV (an upper bound — deletes can't leave a
            # KMV) has drifted. One full ANALYZE: exact NDV, fresh
            # sketches, drift counter reset. O(table) at a bounded
            # cadence (every ~20% deleted), not per tick.
            return self.analyze(cols, approx=False, kmv_k=k)

        # merge inserted values into the per-column KMV sketches (the
        # feed's inserts are churn-sized; the sketch union is exact)
        inserted = feed.filter(w > 0)
        fresh = self._kmv_sketches(inserted, cols, k)
        kmv = {}
        for c in cols:
            merged = sorted(set(prev["kmv"].get(c, [])) | set(fresh[c]))
            kmv[c] = merged[:k]

        def ndv_est(hashes: list[int]) -> int:
            if len(hashes) < k:
                return len(hashes)
            # floor, not round: DuckDB round() is half-away-from-zero
            # while Python's is banker's — floor keeps the estimate
            # replayable bit-for-bit in the oracle
            return int((k - 1.0) / (hashes[-1] / KMV_SPACE))

        recompute_min, recompute_max = [], []
        columns = {}
        for c in cols:
            p = prev["columns"][c]
            if row[f"__tie_min_{c}"]:
                recompute_min.append(c)
            if row[f"__tie_max_{c}"]:
                recompute_max.append(c)
            columns[c] = {
                "ndv": ndv_est(kmv[c]),
                "nulls": int(p["nulls"]) + int(row[f"__d_nul_{c}"]),
                "min": row[f"__new_min_{c}"],
                "max": row[f"__new_max_{c}"],
            }
        if recompute_min or recompute_max:
            # re-derive the tied bounds: METADATA-ONLY when the column
            # already has per-file manifest stats (the table-wide bound
            # is the fold of the per-file bounds — zero data read;
            # conservative skip if any DV-carrying or stats-less file
            # leaves the fold uncertain), else one column-pruned pass
            m_now = self._manifest(v_to)
            stat_cols = set(m_now.get("stats_cols") or [])

            def fold(c, which):
                vals = []
                for e in m_now["files"]:
                    if e.get("dv"):
                        return None  # DV hides rows from file stats
                    bounds = self._col_bounds(e, c)
                    if bounds is None:
                        return None
                    b = bounds[0 if which == "min" else 1]
                    if b is not None:
                        vals.append(b)
                if not vals:
                    # all-NULL column: a (kind, value) pair, NOT a
                    # string sentinel — a real value 'NULL' must stay
                    # distinguishable from the-column-is-all-NULL
                    return ("allnull", None)
                try:
                    agg = min(vals) if which == "min" else max(vals)
                except TypeError:
                    return None
                # int/str stringify identically in Python and Spark's
                # CAST AS STRING; float formatting does not — let
                # floats take the exact scan so the stored doc never
                # mixes formatting conventions
                if isinstance(agg, bool) or not isinstance(
                    agg, (int, str)
                ):
                    return None
                return ("ok", agg)

            scan_min, scan_max = [], []
            for c in recompute_min:
                got = (
                    fold(c, "min")
                    if (c in self.keys or c in stat_cols) else None
                )
                if got is None:
                    scan_min.append(c)
                else:
                    columns[c]["min"] = (
                        None if got[0] == "allnull" else str(got[1])
                    )
            for c in recompute_max:
                got = (
                    fold(c, "max")
                    if (c in self.keys or c in stat_cols) else None
                )
                if got is None:
                    scan_max.append(c)
                else:
                    columns[c]["max"] = (
                        None if got[0] == "allnull" else str(got[1])
                    )
            if scan_min or scan_max:
                exprs = [
                    F.min(F.col(c)).cast("string").alias(f"__mn_{c}")
                    for c in scan_min
                ] + [
                    F.max(F.col(c)).cast("string").alias(f"__mx_{c}")
                    for c in scan_max
                ]
                fix = self.read(v_to).agg(*exprs).head()
                for c in scan_min:
                    columns[c]["min"] = fix[f"__mn_{c}"]
                for c in scan_max:
                    columns[c]["max"] = fix[f"__mx_{c}"]
        doc = {
            "version": v_to,
            "rows": new_rows,
            "approx": True,  # NDV is now the sketch estimate
            "mode": "incremental",
            "columns": columns,
            "kmv_k": k,
            "kmv": kmv,
            "deletes_since_full": dels,
        }
        os.makedirs(f"{self.root}/stats", exist_ok=True)
        tmp = f"{self.root}/stats/.tmp.{uuid.uuid4().hex}.json"
        with open(tmp, "w") as f:
            json.dump(doc, f, indent=1)
        os.replace(tmp, f"{self.root}/stats/v{v_to}.json")
        return doc

    def stats(self, version: int | None = None) -> dict | None:
        """The newest ANALYZE result at-or-below ``version`` (default:
        the current head), or None if the table was never analyzed."""
        v = self.version if version is None else version
        sdir = f"{self.root}/stats"
        if not os.path.isdir(sdir):
            return None
        best = None
        for n in os.listdir(sdir):
            if n.startswith("v") and n.endswith(".json") and n[1:-5].isdigit():
                sv = int(n[1:-5])
                if sv <= v and (best is None or sv > best):
                    best = sv
        if best is None:
            return None
        with open(f"{sdir}/v{best}.json") as f:
            return json.load(f)

    def live_rows(self, version: int | None = None) -> int:
        """EXACT live row count of the snapshot at ``version`` (default
        head) — free metadata (the manifest carries it; resolution is
        cached per handle), so planners can read the current size
        without a scan and without trusting possibly-stale ANALYZE
        stats."""
        return int(self._manifest(version)["rows"])

    def maintain(
        self,
        target_rows: int = 1_000_000,
        small_file_ratio: float = 0.5,
        keep_versions: int = 3,
        vacuum_retention_seconds: float = 3600.0,
    ) -> dict:
        """The unattended steady-state maintenance tick: compact when
        more than ``small_file_ratio`` of files are under ``target_rows``
        (the small-file accumulation every micro-batch MERGE produces),
        then vacuum history beyond ``keep_versions``. Reads only
        manifests to decide (``describe``) — the loop a scheduler runs
        after each ingest wave, analogous to the reference's refresh +
        rotate_db_snapshots maintenance DAGs. Safe to run alongside live
        writers: the vacuum step never touches never-referenced files
        younger than ``vacuum_retention_seconds`` (a concurrent writer's
        in-flight attempt directory looks orphaned until its manifest
        links — see ``vacuum``). Returns what it did."""
        d = self.describe()
        m = self._manifest()
        # deletion-vector carriers count as compaction-needing whatever
        # their size: OPTIMIZE is what materializes vectors away
        small = sum(
            1 for e in m["files"] if e["rows"] < target_rows or e.get("dv")
        )
        out: dict = {"compacted": False, "files_small": small,
                     "files_total": d["num_files"], "vacuumed": [],
                     "retightened": False}
        needs_compact = bool(
            d["num_files"] and small / d["num_files"] > small_file_ratio
        )
        # clustering drift: the recorded clamp fraction is the engine
        # consuming its own statistics — past the gate, re-cluster with
        # fresh bounds (the incremental path escalates itself); under
        # it, clustering is still tight. When the gate WILL fire, the
        # retighten rewrite also bin-packs and materializes DVs, so the
        # plain compact is skipped — one rewrite, not two.
        clamp = m.get("zorder_clamp")
        will_retighten = bool(
            clamp and clamp.get("fraction", 0.0) > ZORDER_CLAMP_RETIGHTEN
        )
        if needs_compact and not will_retighten:
            if clamp:
                # a z-maintained table compacts THROUGH the incremental
                # z-order path: merge-written (untagged) churn clusters
                # under the pinned bounds and gets tagged; already-
                # clustered files carry by reference. A PLAIN compact
                # here would bin-pack tagged files into untagged output
                # — destroying clustering every tick AND making the
                # next incremental run re-count their out-of-bounds
                # rows into the drift counter (a counter that only ever
                # grows without new drift would force a spurious
                # O(table) retighten).
                try:
                    out["compact_result"] = self.compact(
                        target_rows=target_rows,
                        zorder_by=list(clamp["cols"]),
                        zorder_bits=int(clamp["bits"]),
                        zorder_incremental=True,
                    )
                except ValueError:
                    # z column dropped/stats stripped: fall back to the
                    # plain bin-pack rather than skipping maintenance
                    out["compact_result"] = self.compact(
                        target_rows=target_rows
                    )
            else:
                out["compact_result"] = self.compact(
                    target_rows=target_rows
                )
            out["compacted"] = out["compact_result"]["files_written"] > 0
        if will_retighten:
            try:
                out["retighten_result"] = self.compact(
                    target_rows=target_rows,
                    zorder_by=list(clamp["cols"]),
                    zorder_bits=int(clamp["bits"]),
                    zorder_incremental=True,
                )
                out["retightened"] = bool(
                    out["retighten_result"].get("retightened")
                )
                out["compacted"] = (
                    out["retighten_result"].get("files_written", 0) > 0
                )
            except ValueError as e:
                # a z column dropped/renamed or stripped of stats since
                # the clamp was recorded: maintain() is the unattended
                # loop, so report instead of raising forever — and the
                # skipped small-file compact must still happen, or the
                # error would also pin small files in place
                out["retighten_error"] = str(e)
                if needs_compact:
                    out["compact_result"] = self.compact(
                        target_rows=target_rows
                    )
                    out["compacted"] = (
                        out["compact_result"]["files_written"] > 0
                    )
        # runs BEFORE vacuum so the change-feed span the incremental
        # path needs is still on disk
        out.update(self._advance_stats())
        if d["num_versions"] > keep_versions:
            out["vacuumed"] = self.vacuum(
                keep_versions=keep_versions,
                retention_seconds=vacuum_retention_seconds,
            )
        return out

    def _advance_stats(self) -> dict:
        """Stats freshness step of the unattended ticks (``maintain`` and
        ``LakeCatalog.maintain_tables``): a table that opted into
        ANALYZE keeps its statistics advancing at tick cadence (the
        autoanalyze the reference gets from Postgres) — O(churn) via
        the feed, escalating itself (full re-seed) on vacuumed spans,
        schema evolution, or NDV drift. Returns the report entry:
        ``{}`` when current, ``stats_version`` when advanced,
        ``stats_error`` when the advance failed (the tick reports,
        never raises)."""
        st = self.stats()
        if st is None or int(st.get("version", 0)) >= self.version:
            return {}
        try:
            adv = self.analyze_incremental(
                kmv_k=int(st.get("kmv_k") or 1024)
            )
        except Exception as e:  # noqa: BLE001 - unattended loop
            return {"stats_error": str(e)}
        return {"stats_version": adv["version"]}

    def clone(self, new_root: str, version: int | None = None) -> "CowTable":
        """Shallow CLONE (Delta semantics): a NEW table whose v1
        manifest references the source snapshot's data files by
        absolute path — zero data copied, so branching a 100 TB table
        for an experiment is one manifest write. The clone then evolves
        independently: its merges/updates write its OWN files (only
        rewritten parts materialize — storage cost = the delta), and
        its vacuum never deletes the source's files. Caveat, exactly as
        in Delta: vacuuming the SOURCE can remove files a shallow clone
        still references — retain source history for as long as clones
        live, or compact the clone (which rewrites everything local)
        to detach it."""
        m = self._manifest(version)
        t = CowTable(self.spark, new_root, tuple(m["keys"]))
        # the clone inherits the source snapshot's table properties
        # (they are part of the snapshot, not the handle) — INCLUDING
        # the hidden-partition spec: the lazy property would read the
        # clone's not-yet-written head and silently commit an empty
        # spec into v1
        t._refresh_props(m)
        os.makedirs(f"{t.root}/manifests", exist_ok=True)
        entries = []
        for e in m["files"]:
            ne = {**e, "path": self._abs(e["path"])}
            if e.get("dv"):
                ne["dv"] = {**e["dv"], "path": self._abs(e["dv"]["path"])}
            if e.get("bloom_sc"):
                ne["bloom_sc"] = self._abs(e["bloom_sc"])
            entries.append(ne)
        t._commit(
            1, entries, op=f"clone({self.root}@v{m['version']})",
            schema_json=m.get("schema"),
        )
        return t

    def truncate(self) -> dict:
        """TRUNCATE TABLE: commit a NEW version with an EMPTY file list —
        metadata-only (one manifest JSON, no data file touched), so
        truncating a 100 TB table is instant. Schema and table
        properties carry over from the head, and history stays linear:
        the pre-truncate snapshot remains time-travelable (and
        RESTORE-able) until vacuum, exactly like restore()."""
        committed, m = self._commit_metadata(
            "truncate", lambda m: ([], m.get("schema"))
        )
        return {
            "version": committed,
            "rows": 0,
            "rows_deleted": int(m["rows"]),
        }

    def restore(self, version: int) -> dict:
        """ROLLBACK: commit a NEW version whose file list is the target
        version's — a metadata-only operation (no data file is read or
        written, the commit is one manifest JSON), so restoring a
        100 TB table after a bad merge is instant. History stays linear
        and append-only: the bad version remains inspectable until
        vacuum, and the restore itself is a recorded operation.

        Metadata-only, so a commit conflict just recomputes the next
        free version number and relinks — no data work to redo."""
        target = self._manifest(version)

        def derive(_head):
            # restore restores the SNAPSHOT, schema + ALL table
            # properties included (a head-state mapping against a
            # pre-rename schema would mistranslate physical names;
            # keeping the head's partition spec would leave a torn SET
            # PARTITION SPEC in force after its rollback — and
            # recover()'s content equality would then never converge)
            self._refresh_props(target)
            return target["files"], target.get("schema")

        committed, _ = self._commit_metadata(f"restore(v{version})", derive)
        return {
            "version": committed,
            "restored_from": version,
            "files": len(target["files"]),
            "rows": target["rows"],
        }

    def vacuum(
        self,
        keep_versions: int = 1,
        retention_seconds: float = 3600.0,
        protect: tuple[int, ...] = (),
        protect_files: tuple[str, ...] = (),
        dry_run: bool = False,
    ) -> list[str]:
        """Drop manifests older than the newest ``keep_versions`` and
        delete data files no surviving manifest references. Returns the
        deleted file paths. ``dry_run=True`` (Delta's VACUUM ... DRY
        RUN) mutates NOTHING — no deletion, no pointer repair, no
        checkpoint side files — and returns the deterministic
        committed-history delete set (files referenced only by
        dropped manifests); the age-gated debris sweeps are excluded
        from the preview because their outcome depends on wall-clock
        age at the moment the real vacuum runs. ``protect`` pins extra versions OUTSIDE the
        keep window (a lake catalog's published snapshots — see
        LakeCatalog.vacuum_tables); each survives with its own
        checkpoint side file so resolution never needs a dropped
        segment chain. ``protect_files`` pins individual paths under
        THIS root that an external reader still references — shallow
        clones record absolute paths into their source's data/blooms
        dirs, and a catalog that knows both tables passes the clones'
        keep-sets here so vacuuming the source cannot orphan a
        registered clone (stock Delta's documented clone-vs-vacuum
        caveat, closed when a catalog is attached). Accepts data files,
        deletion-vector dirs, and bloom sidecar dirs, absolute or
        root-relative.

        CONCURRENT-WRITER SAFETY (Delta's VACUUM retention): files that
        were referenced by a now-vacuumed manifest are committed history
        and delete immediately, but files referenced by NO manifest at
        all are ambiguous — either debris of a crashed/conflict-losing
        attempt, or a LIVE writer's written-but-not-yet-linked attempt
        directory. Deleting the latter would let that writer commit a
        manifest pointing at missing files (permanent corruption), so
        never-referenced files (and stale ``.tmp`` manifests) are only
        swept once older than ``retention_seconds`` (mtime-based; any
        sane commit attempt finishes well inside the default hour).
        ``retention_seconds=0`` is the explicit "no writers are active"
        mode for offline cleanup and tests."""
        import time

        now = time.time()
        current = self.version
        # repair the pointer FIRST: repeated writer crashes in the
        # link-to-pointer window can leave it lagging by more than one,
        # and vacuum is about to drop the manifests between the stale
        # pointer and the kept window — the contiguous roll-forward in
        # ``version`` would then stop at the stale pointer, resolving
        # the table to a vacuumed (unreadable) version
        if not dry_run:
            self._advance_pointer(current)
        keep = {current - i for i in range(keep_versions)}
        existing = {
            int(n.removeprefix("v").removesuffix(".json"))
            for n in self._manifest_names()
        }
        protected = {v for v in protect if v in existing} - keep
        for v in sorted(protected):
            # a protected version below the window must resolve without
            # its (about to be dropped) segment-chain parents
            if not dry_run:
                self._write_checkpoint(v)
        keep |= protected
        # dropping a kept version's segment chain would break its
        # resolution — materialize a checkpoint side file FIRST
        # (idempotent) for EVERY kept version whose parent is about to
        # be dropped, not just the oldest: protected pins make the keep
        # set non-contiguous (e.g. pins {2,4} + head {6}), and a kept
        # segment above a dropped gap (v6 over a dropped v5) would
        # otherwise be unresolvable after the drop
        for v in sorted(keep):
            if v >= 1 and (v - 1) not in keep and not dry_run:
                self._write_checkpoint(v)
        live: set[str] = set()
        referenced_ever: set[str] = set()
        live_dv: set[str] = set()
        ever_dv: set[str] = set()
        live_sc: set[str] = set()
        ever_sc: set[str] = set()
        for p in protect_files:
            # normalize to root-relative; paths outside this root are a
            # caller grouping bug — ignore rather than mis-protect
            if p.startswith("/"):
                if not p.startswith(self.root + "/"):
                    continue
                p = p[len(self.root) + 1:]
            if p.startswith("blooms/"):
                live_sc.add(p)      # sidecar dir granularity
            elif p.endswith(".parquet"):
                live.add(p)         # a data file
            else:
                live_dv.add(p)      # a deletion-vector dir
        drop_manifests = []
        for name in self._manifest_names():
            v = int(name.removeprefix("v").removesuffix(".json"))
            files = self._manifest(v)["files"]
            paths = {e["path"] for e in files}
            dvs = {e["dv"]["path"] for e in files if e.get("dv")}
            scs = {e["bloom_sc"] for e in files if e.get("bloom_sc")}
            referenced_ever.update(paths)
            ever_dv.update(dvs)
            ever_sc.update(scs)
            if v in keep:
                live.update(paths)
                live_dv.update(dvs)
                live_sc.update(scs)
            else:
                drop_manifests.append(name)
                stale_cp = f"{self.root}/manifests/v{v}.checkpoint.json"
                if os.path.exists(stale_cp) and not dry_run:
                    os.remove(stale_cp)
        deleted = []

        def _under(rel: str, dirs: set[str]) -> bool:
            return any(rel.startswith(d + "/") for d in dirs)

        # superseded committed history: referenced by a dropped manifest
        # only — unambiguous, deleted regardless of age. Deletion-vector
        # sidecars are referenced at DIRECTORY granularity (entries point
        # at the dv dir, not its part files).
        for dirpath, _, files in os.walk(f"{self.root}/data"):
            for fn in files:
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, self.root)
                if not fn.endswith(".parquet"):
                    continue
                if rel in live or _under(rel, live_dv):
                    continue
                if rel in referenced_ever or _under(rel, ever_dv):
                    if not dry_run:
                        os.remove(full)
                    deleted.append(rel)
        if dry_run:
            # the debris sweeps below (never-referenced data dirs, tmp
            # manifests, bloom sidecars) are age-gated against `now`, so
            # previewing them would race live writers for no benefit;
            # DRY RUN reports the deterministic committed-history set,
            # exactly the entries the real vacuum deletes unguarded
            return sorted(deleted)
        for name in drop_manifests:
            os.remove(f"{self.root}/manifests/{name}")
        # tmp manifests from writers that died before their link are
        # never commits — but a LIVE writer's tmp looks identical, so
        # age-gate the sweep
        for name in os.listdir(f"{self.root}/manifests"):
            full = f"{self.root}/manifests/{name}"
            if name.startswith(".tmp.") and (
                now - os.path.getmtime(full) >= retention_seconds
            ):
                os.remove(full)
        # sweep commit directories with no surviving referenced file:
        # vacuumed-history dirs immediately (only markers remain), but a
        # never-referenced dir (possible in-flight attempt) only once
        # its newest content is past retention
        data_root = f"{self.root}/data"
        if os.path.isdir(data_root):
            for child in sorted(os.listdir(data_root)):
                child_rel = f"data/{child}"
                child_full = os.path.join(data_root, child)
                if child_rel in live_dv or any(
                    p.startswith(child_rel + "/") for p in live
                ):
                    continue
                if child_rel not in ever_dv and not any(
                    p.startswith(child_rel + "/") for p in referenced_ever
                ):
                    newest = os.path.getmtime(child_full)
                    for dp, _, fns in os.walk(child_full):
                        for fn in fns:
                            newest = max(
                                newest, os.path.getmtime(os.path.join(dp, fn))
                            )
                    if now - newest < retention_seconds:
                        continue  # could be a live writer's attempt
                    for dp, _, fns in os.walk(child_full):
                        for fn in fns:
                            if fn.endswith(".parquet"):
                                deleted.append(
                                    os.path.relpath(
                                        os.path.join(dp, fn), self.root
                                    )
                                )
                shutil.rmtree(child_full, ignore_errors=True)
        # bloom sidecars: referenced at DIRECTORY granularity like DVs.
        # Superseded-history sidecars (referenced only by dropped
        # manifests) go immediately; never-referenced dirs could be a
        # live writer's in-flight attempt — age-gate, like data dirs.
        blooms_root = f"{self.root}/blooms"
        if os.path.isdir(blooms_root):
            for child in sorted(os.listdir(blooms_root)):
                child_rel = f"blooms/{child}"
                child_full = os.path.join(blooms_root, child)
                if child_rel in live_sc:
                    continue
                if child_rel not in ever_sc:
                    newest = os.path.getmtime(child_full)
                    for dp, _, fns in os.walk(child_full):
                        for fn in fns:
                            newest = max(
                                newest, os.path.getmtime(os.path.join(dp, fn))
                            )
                    if now - newest < retention_seconds:
                        continue
                self._bloom_cache = {
                    k: v for k, v in self._bloom_cache.items()
                    if k[0] != child_rel
                }
                shutil.rmtree(child_full, ignore_errors=True)
        return sorted(deleted)
