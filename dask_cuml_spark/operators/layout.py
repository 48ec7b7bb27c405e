"""Data-layout optimization for scan pruning (§2C sinks, 100 TB path).

At 100 TB the cheapest predicate is the one the scan never evaluates:
parquet footers carry per-row-group min/max statistics, and a reader
(Spark's vectorized parquet reader, DuckDB, Trino, ...) skips any row
group whose [min, max] range cannot satisfy a pushed filter. That only
helps if the writer CLUSTERED the data — on a randomly-ordered table
every row group spans the whole value domain and nothing prunes.

cluster_write is the writer-side half of that contract: range-partition
on the clustering key(s) (total ordering across files via Spark's
range-exchange sampling), then sort within partitions, so each row
group covers a narrow, non-overlapping slice of the key domain. The
effect is measured, not asserted: tests/test_scale_features.py reads
both layouts' footers and counts row groups a range predicate can
touch (clustered ≈ selectivity × total; random = all of them).

This is the single-dimension version of the layout step in every
lakehouse maintenance pipeline (OPTIMIZE ... ZORDER / CLUSTER BY);
for multi-dimensional keys, interleave bits (Z-order) into a derived
column and range-cluster on that — same writer shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.column import Column


def layout_tag(sf_dir: str, *source_files: str) -> str:
    """Collision-free catalog identity for a layout derived from
    ``sf_dir``: a short sha1 over the ABSOLUTE fixture path plus each
    source file's content fingerprint (file count, total bytes, newest
    mtime_ns — works for single parquet files and Spark-written dirs).

    Two properties the advisor-r8 finding requires: (a) distinct
    fixture dirs can never collide onto one table name (the old
    regex-sanitized path mapped /tmp/a.b and /tmp/a_b to the same tag);
    (b) rewriting a source parquet changes the tag, so a layout built
    from the OLD data simply stops matching — consumers fall back to
    the plain branch instead of silently serving stale buckets. Stale
    tables are garbage-collected by drop_stale_layouts."""
    import hashlib
    import os

    h = hashlib.sha1(os.path.abspath(sf_dir).encode())
    for name in source_files:
        p = os.path.join(sf_dir, name)
        if os.path.isfile(p):
            st = os.stat(p)
            fp = (1, st.st_size, st.st_mtime_ns)
        else:
            n = total = mt = 0
            for dirpath, _dirs, files in os.walk(p):
                for fn in files:
                    s = os.stat(os.path.join(dirpath, fn))
                    n, total, mt = n + 1, total + s.st_size, max(
                        mt, s.st_mtime_ns
                    )
            fp = (n, total, mt)
        h.update(f"|{name}:{fp[0]}:{fp[1]}:{fp[2]}".encode())
    return h.hexdigest()[:12]


def drop_table_and_location(spark, table: str) -> None:
    """DROP TABLE IF EXISTS plus removal of the managed-table LOCATION.

    With the default in-memory catalog, a layout write that crashed
    mid-`saveAsTable` (r9: the 1000× q02 leg died on a full disk)
    leaves the warehouse directory behind while no catalog entry
    exists — the retry then fails with LOCATION_ALREADY_EXISTS. Every
    layout writer drops through this helper so a retry always starts
    clean."""
    import os
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    wh = wh.removeprefix("file:")
    loc = os.path.join(wh, table.lower())
    if wh and os.path.isdir(loc):
        shutil.rmtree(loc, ignore_errors=True)


def table_names(spark) -> list[str]:
    """Names in the current database, temporary views included — the
    names ``spark.catalog.listTables()`` gives, without building a
    ``Table`` object per entry over Py4J."""
    return [r.tableName for r in spark.sql("SHOW TABLES").collect()]


def table_buckets(spark, table: str) -> int:
    """Bucket count of a bucketed catalog table. An append must repeat
    the table's own bucket spec: Spark rejects a different or missing
    one."""
    return int(
        next(
            r.data_type
            for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect()
            if r.col_name == "Num Buckets"
        )
    )


def drop_stale_layouts(
    spark,
    prefixes: tuple[str, ...],
    keep_tag: str,
    retired: tuple[str, ...] = (),
) -> list[str]:
    """Drop catalog tables named ``{prefix}{tag}`` for any of
    ``prefixes`` whose tag is not ``keep_tag`` — layouts built from a
    source parquet that has since been rewritten (their fingerprint tag
    no longer matches, so no query will ever read them again) — and
    every table under a ``retired`` prefix, whatever its tag. The
    catalog is listed once."""
    dropped = [
        n
        for n in table_names(spark)
        if (n.startswith(prefixes) and not n.endswith(keep_tag))
        or n.startswith(retired)
    ]
    for n in dropped:
        spark.sql(f"DROP TABLE IF EXISTS {n}")
    return dropped


def cluster_write(
    df: DataFrame,
    path: str,
    cluster_cols: list[str | Column],
    num_files: int | None = None,
    row_group_bytes: int = 8 << 20,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as parquet range-clustered on ``cluster_cols``.

    repartitionByRange gives a total ordering ACROSS output files
    (Spark samples the key distribution to pick balanced range bounds),
    sortWithinPartitions orders rows INSIDE each file, and
    ``parquet.block.size`` bounds the pruning granularity: smaller row
    groups prune finer but cost more footer overhead. The 8 MB default
    is the demonstration setting; production tables usually keep the
    128 MB default and rely on file-level pruning plus page indexes.
    """
    n = num_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(n, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.option("parquet.block.size", row_group_bytes)
        .mode(mode)
        .parquet(path)
    )


def row_groups_touched(
    path: str, column: str, lo, hi
) -> tuple[int, int]:
    """(touched, total) row groups whose [min, max] stats intersect
    [lo, hi] across every parquet file under ``path`` — the
    engine-independent measure of how much a reader with footer-stats
    pruning must actually scan."""
    import glob
    import os

    import pyarrow.parquet as pq

    touched = total = 0
    files = (
        glob.glob(os.path.join(path, "*.parquet"))
        if os.path.isdir(path)
        else [path]
    )
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = md.schema.to_arrow_schema().get_field_index(column)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            total += 1
            if st is None or st.min is None:
                touched += 1  # no stats ⇒ reader must scan
            elif not (st.max < lo or st.min > hi):
                touched += 1
    return touched, total


def source_files(sf_dir: str, name) -> dict[str, tuple[int, int]]:
    """relpath -> (size, mtime_ns) for every file backing a source
    table — the per-file fingerprint incremental refreshes compare
    (layout_tag folds the same stats into one hash; this keeps them
    separable so 'strictly grew' is distinguishable from 'changed').
    ``name`` may be a tuple for multi-source layouts (q02's
    orders+lineitem pair share one fingerprint tag): the union keyed
    on sf_dir-relative paths is naturally collision-free."""
    import os

    if isinstance(name, (tuple, list)):
        out: dict[str, tuple[int, int]] = {}
        for n in name:
            out.update(source_files(sf_dir, n))
        return out
    p = os.path.join(sf_dir, name)
    if os.path.isfile(p):
        st = os.stat(p)
        return {name: (st.st_size, st.st_mtime_ns)}
    out: dict[str, tuple[int, int]] = {}
    for dirpath, _dirs, files in os.walk(p):
        for fn in files:
            fp = os.path.join(dirpath, fn)
            st = os.stat(fp)
            out[os.path.relpath(fp, sf_dir)] = (st.st_size, st.st_mtime_ns)
    return out


def write_layout_manifest(
    spark, sf_dir: str, source_name: str, manifest_table: str
) -> None:
    """Persist the source-file manifest next to a layout table — the
    append-only detector's baseline for the NEXT provisioning call (a
    few rows: one per source part file)."""
    rows = [
        (f, s, m)
        for f, (s, m) in sorted(source_files(sf_dir, source_name).items())
    ]
    # drop-through first (the r9 LOCATION_ALREADY_EXISTS class): a
    # manifest dir left in the warehouse by a PREVIOUS session has no
    # catalog entry in this one, and overwrite-saveAsTable refuses the
    # orphaned location
    drop_table_and_location(spark, manifest_table)
    spark.createDataFrame(
        rows, "file string, size bigint, mtime_ns bigint"
    ).write.mode("overwrite").saveAsTable(manifest_table)


class IncrementalNotApplicable(Exception):
    """Raised by an append_fn BEFORE it writes anything when a
    layout-specific precondition fails (e.g. the pack manifest needs
    appended doc_ids to sort strictly after every existing one so the
    token stream grows as a suffix) — the caller falls back to the
    full rebuild. Raising after a write would corrupt the layout; the
    contract is check-first."""


def incremental_refresh(
    spark,
    sf_dir: str,
    source_name: str,
    table_prefix: str,
    manifest_for,
    new_table: str,
    append_fn,
    sibling_renames=None,
) -> float | None:
    """Generic append-only incremental layout refresh (the grams/signs
    shared mechanism — r13; the q112 Θ(|new batch|) posture applied to
    stored layouts).

    Detection is strictly conservative: a previous-tag table under
    ``table_prefix`` qualifies only if its stored manifest is a
    strict SUBSET of the current source file set with every old file
    bit-unchanged (size + mtime_ns) — any mutation of an existing
    file disqualifies the fast path and the caller falls back to a
    full rebuild, so correctness never depends on the detector. On a
    hit, ``append_fn(spark, new_parquet_paths, old_table)`` writes
    ONLY the new files' derived rows into the existing table (Spark
    appends preserve bucket specs), the table is renamed to the new
    fingerprint tag, and the manifest sidecar follows.

    Returns write seconds on a refresh, None when not applicable.
    MUST run before the stale-GC keyed on the new tag — the GC would
    drop the very table this appends to. The 0.0 early-return attests
    only that the PRIMARY ``new_table`` exists — a multi-table caller
    (ensure_layouts) re-verifies the sibling tables and falls through
    to the full writer when the layout is partially built."""
    import os
    import time as _time

    new_tag = new_table.rsplit("_", 1)[1]
    if spark.catalog.tableExists(new_table):
        return 0.0
    cur = source_files(sf_dir, source_name)
    for name in table_names(spark):
        if not name.startswith(table_prefix) or name.endswith(new_tag):
            continue
        old_tag = name.rsplit("_", 1)[1]
        mf = manifest_for(old_tag)
        if not spark.catalog.tableExists(mf):
            continue
        old = {
            r.file: (r.size, r.mtime_ns) for r in spark.table(mf).collect()
        }
        if not set(old) <= set(cur) or len(old) == len(cur):
            continue
        if any(cur[f] != old[f] for f in old):
            continue  # an existing file changed — full-rebuild territory
        # a missing sibling table at the matched tag means a PARTIAL
        # build (interrupted full write, dropped sidecar): the fast
        # path must NOT run — an append_fn's mode("append") write
        # would silently RECREATE the sibling holding only this
        # batch's delta, corrupting every additive sidecar consumer
        # (the r16 eight-layout chaos test caught exactly this for the
        # postings stats table). Full-rebuild territory.
        if any(
            not spark.catalog.tableExists(f"{p}{old_tag}")
            for p in sibling_renames or ()
        ):
            return None
        new_rel = sorted(set(cur) - set(old))
        # only write-markers (_SUCCESS, .crc dotfiles) may be skipped:
        # a new non-marker file we don't append from would be recorded
        # as consumed by the manifest below yet never processed —
        # silently excluded from the layout forever (advisor r13).
        # Unknown file kinds are full-rebuild territory, not skips.
        if any(
            not f.endswith(".parquet")
            and not os.path.basename(f).startswith(("_", "."))
            for f in new_rel
        ):
            return None
        new_files = [
            os.path.join(sf_dir, f)
            for f in new_rel
            # exclude marker-NAMED parquet too (".hidden.parquet"):
            # Spark's directory readers skip dot/underscore files, so
            # appending their rows would make the stored layout a
            # SUPERSET of the plain table (r14 self-review)
            if f.endswith(".parquet")
            and not os.path.basename(f).startswith(("_", "."))
        ]
        t0 = _time.perf_counter()
        if new_files:
            try:
                append_fn(spark, new_files, name)
            except IncrementalNotApplicable:
                return None  # precondition failed pre-write → rebuild
        spark.sql(f"ALTER TABLE {name} RENAME TO {new_table}")
        # multi-table layouts (pq: codes + model sidecar) carry their
        # sibling tables to the new tag in the same refresh — the
        # sidecar's CONTENT is untouched (FAISS add() never retrains)
        for sib_prefix in sibling_renames or ():
            old_sib, new_sib = (
                f"{sib_prefix}{old_tag}",
                f"{sib_prefix}{new_tag}",
            )
            if spark.catalog.tableExists(old_sib):
                spark.sql(f"ALTER TABLE {old_sib} RENAME TO {new_sib}")
        write_layout_manifest(spark, sf_dir, source_name, manifest_for(new_tag))
        spark.sql(f"DROP TABLE IF EXISTS {mf}")
        return _time.perf_counter() - t0
    return None
