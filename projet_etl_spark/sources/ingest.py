"""Ingest helpers: the reference's CSV-to-warehouse pipeline,
re-expressed distributed (SURVEY.md §2.1 S1-S5).

The reference loads whitespace-delimited CSVs with a pandas regex
delimiter on the driver (reference data.py:5-6), lowercases headers
(data.py:9-10), parses %Y%m%d ints to dates (data.py:13-14) and
replaces SQLite tables (data.py:41-42). Spark's CSV source only
supports single-char delimiters, so the regex-delimited form reads
as text and splits JVM-side — fully distributed, no driver
materialization beyond the one header line.

At scale the sink partitions by month of ``dateid`` so date-range
predicates (P4/P6) prune partitions instead of scanning everything.
"""

from __future__ import annotations

import fcntl
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_whitespace_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    date_format: str = "yyyyMMdd",
) -> DataFrame:
    """Distributed reader for header-ful, regex-whitespace-delimited
    text (reference data.py:5-6 semantics).

    Column order comes from the file header (lowercased,
    reference data.py:9-10); types come from ``schema`` (DateType
    fields are parsed from ``date_format`` ints, data.py:13-14).

    Multi-file inputs (a directory or glob) are supported only when
    every file carries the SAME header tokens: each file's first line
    is probed driver-side (one line per file — the same O(#files)
    driver cost as the file listing itself) and a mismatch raises
    instead of silently splicing columns in the wrong order. Header
    rows are removed by token equality, so per-file header copies
    disappear regardless of whitespace variations. Plain local paths
    probe with Python file IO (no JVM round-trips); URI-scheme paths
    (file://, hdfs://, s3a://) probe through the Hadoop FileSystem
    API (round-8, r7 verdict item 8) — the same FS layer the
    executors will read through, so the single-header contract is
    now ENFORCED on object stores instead of documented. An
    unreachable or unconfigured filesystem fails here, loudly, not
    at first task launch.
    """
    header_lines = _probe_first_lines(path, spark)
    headers = {tuple(line.strip().split()) for line in header_lines.values()}
    if len(headers) > 1:
        detail = {f: line.strip() for f, line in sorted(header_lines.items())}
        raise ValueError(
            f"files under {path!r} disagree on the header line — "
            f"refusing to splice columns: {detail}"
        )

    raw = spark.read.text(path)
    if headers:
        header_toks = list(next(iter(headers)))
    else:  # non-probeable path: fall back to the first line of the input
        header_toks = raw.limit(1).collect()[0][0].strip().split()
    names = [c.lower() for c in header_toks]
    by_name = {f.name.lower(): f for f in schema.fields}
    unknown = [n for n in names if n not in by_name]
    if unknown:
        raise ValueError(f"header columns {unknown} not in schema")

    toks = F.split(F.trim(F.col("value")), r"\s+")
    is_header = F.transform(toks, lambda x: F.lower(x)) == F.array(
        *[F.lit(n) for n in names]
    )
    cols = []
    for i, name in enumerate(names):
        field = by_name[name]
        raw_col = F.element_at(toks, i + 1)
        if isinstance(field.dataType, T.DateType):
            col = F.to_date(raw_col, date_format)
        else:
            col = raw_col.cast(field.dataType)
        cols.append(col.alias(name))
    return (
        raw.filter(~is_header)
        .filter(F.trim(F.col("value")) != "")
        .select(*cols)
    )


def _probe_first_lines(
    path: str, spark: SparkSession | None = None
) -> dict[str, str]:
    """First line of every file the path denotes (file, dir, or
    glob). Plain local paths use Python IO; URI-scheme paths go
    through the Hadoop FileSystem API (requires ``spark``), so the
    probe sees exactly the files the executors will and works on any
    FS with a Hadoop connector (file:, hdfs:, s3a:, ...)."""
    import glob
    import re

    if re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://", path) or path.startswith("file:"):
        if spark is None:
            raise ValueError(
                f"URI-scheme path {path!r} needs a SparkSession to "
                "probe through the Hadoop FileSystem API"
            )
        return _probe_first_lines_hadoop(spark, path)
    p = path
    if os.path.isdir(p):
        files = sorted(
            f
            for f in glob.glob(os.path.join(p, "*"))
            if os.path.isfile(f) and not os.path.basename(f).startswith(("_", "."))
        )
    elif any(ch in p for ch in "*?["):
        files = sorted(f for f in glob.glob(p) if os.path.isfile(f))
    elif os.path.isfile(p):
        files = [p]
    else:
        return {}
    out: dict[str, str] = {}
    for f in files:
        with open(f, encoding="utf-8", errors="replace") as fh:
            out[f] = fh.readline().rstrip("\n")
    return out


def _probe_first_lines_hadoop(spark: SparkSession, path: str) -> dict[str, str]:
    """Hadoop-FS header probe: one listing + one line read per file,
    the same O(#files) driver cost the scan's own file listing pays.
    ``globStatus`` resolves globs and plain paths alike; directories
    expand one level, skipping _/. housekeeping files (the same rule
    as the local probe). Raises when the path matches nothing — an
    ingest pointed at nothing is a broken pipeline, not an empty one."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(conf)
    statuses = fs.globStatus(hpath)
    if statuses is None or len(statuses) == 0:
        raise FileNotFoundError(f"no files match {path!r} on its filesystem")
    files = []
    for st in statuses:
        if st.isDirectory():
            for st2 in fs.listStatus(st.getPath()):
                name = st2.getPath().getName()
                if st2.isFile() and not name.startswith(("_", ".")):
                    files.append(st2.getPath())
        elif st.isFile():
            files.append(st.getPath())
    out: dict[str, str] = {}
    for p in sorted(files, key=lambda q: q.toString()):
        stream = fs.open(p)
        try:
            reader = jvm.java.io.BufferedReader(
                jvm.java.io.InputStreamReader(stream, "UTF-8")
            )
            line = reader.readLine()
        finally:
            stream.close()
        out[p.toString()] = line if line is not None else ""
    return out


def write_table(
    df: DataFrame,
    path: str,
    partition_by_month_of: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Parquet sink with overwrite semantics (reference data.py:41-42
    ``if_exists='replace'``), optionally partitioned by 'yyyy-MM' of a
    date column for partition pruning at scale.

    Partitioned writes also sort rows within each task by the date
    column: inside a month partition the parquet row groups then carry
    tight min/max stats on the date, so day-level predicates skip row
    groups the scan never decompresses — the second pruning tier after
    directory-level partition pruning.
    """
    writer = df.write.mode(mode)
    if partition_by_month_of is not None:
        df = (
            df.withColumn(
                "month", F.date_format(F.col(partition_by_month_of), "yyyy-MM")
            )
            .sortWithinPartitions("month", partition_by_month_of)
        )
        writer = df.write.mode(mode).partitionBy("month")
    writer.parquet(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    properties: dict[str, str] | None = None,
    num_partitions: int | None = None,
) -> None:
    """SQL-database sink — parity with the reference's ``to_sql`` into
    SQLite (reference data.py:41-42, ``if_exists='replace'``).

    Thin wrapper over Spark's JDBC writer: the target database's JDBC
    driver jar must be on the executor classpath (``spark.jars`` /
    ``--packages``); this container ships no driver jars, so calls
    here surface the JVM's "No suitable driver" error (the wrapper is
    exercised by a test that asserts exactly that). ``num_partitions``
    caps concurrent connections — a 1000-executor cluster writing
    through one JDBC endpoint must throttle, not open one connection
    per task.
    """
    writer = df.coalesce(num_partitions) if num_partitions else df
    (
        writer.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .options(**(properties or {}))
        .mode(mode)
        .save()
    )


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """JSON-lines source with an explicit schema (no inference pass —
    at 100 TB a schema-inference read doubles the scan)."""
    return spark.read.schema(schema).json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink (columnar alternative; same predicate-pushdown and
    column-pruning behavior as parquet in Spark's readers)."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.schema(schema).orc(path)


class StoreWriterConflict(RuntimeError):
    """A second writer tried to mutate a store whose ``._writerlock``
    is held by a LIVE process — the single-writer assumption was
    about to be violated, so the late writer fails loudly instead of
    interleaving renames with the owner."""


def _local_host() -> str:
    """This process's host identity, as recorded in lock files."""
    import socket

    return socket.gethostname()


def _lock_ident(lock: str) -> tuple[str, int]:
    """(hostname, pid) recorded in the lock file. Only the conflict
    message reads it; liveness is the kernel lock's, never this.
    Unreadable or malformed content reads as ("", 0)."""
    try:
        with open(lock, encoding="utf-8") as fh:
            host, _, pid_s = fh.read().strip().rpartition(":")
        return (host, int(pid_s))
    except (OSError, ValueError):
        return ("", 0)


def _writer_lock_holder(lock: str) -> int:
    """pid recorded in the lock file, 0 if unreadable/empty."""
    return _lock_ident(lock)[1]


class _writer_lock:
    """Mutual exclusion for every store mutation (``swap_publish``,
    ``compact``, ``recover_swap``, and the crashed-swap branch of
    ``live_read_path``): an exclusive ``flock`` on
    ``<store>._writerlock``. The kernel releases the lock when its
    holder's process dies, so a held lock IS a live writer: there is
    no lease to expire, refresh or break. A held lock raises
    :class:`StoreWriterConflict` — including one held through another
    open in our OWN process, which would mean nested public mutators
    on one path (the internal ``_recover_swap``/``_swap_publish``
    bodies exist so that cannot happen).

    - ACQUIRE: open (create) the lock file and ``flock`` it
      ``LOCK_EX | LOCK_NB``; keep the lock only if the path still
      names the fd's inode — otherwise a releaser unlinked the file
      between our open and our lock, so reopen. The ``hostname:pid``
      body is written after locking, for the conflict message only.
    - RELEASE: unlink the path only while it still names our inode,
      then close the fd. A file left behind by a killed holder is
      unlocked, so the next writer takes it over.
    - FENCE: mutators call :meth:`fence` before each rename window; it
      raises if the path no longer names our inode. The open fd keeps
      our inode alive, so no successor file can reuse its number.

    Scope: a POSIX store directory. On Linux NFS ``flock`` is emulated
    with whole-file POSIX locks: exclusion then holds across hosts,
    but two opens inside one process no longer exclude each other.
    Object stores are out of scope, as the swap protocol already
    relies on ``os.rename``."""

    def __init__(self, path: str) -> None:
        self.lock = path.rstrip("/") + "._writerlock"
        self._fd: int | None = None

    def owns(self) -> bool:
        """Does the lock path still name the inode we hold locked?"""
        try:
            return self._fd is not None and os.path.samestat(
                os.fstat(self._fd), os.stat(self.lock)
            )
        except OSError:
            return False

    def fence(self) -> None:
        """Assert the lock is still ours — called by the mutating
        bodies immediately before each rename window."""
        if not self.owns():
            raise StoreWriterConflict(
                f"writer lock {self.lock} was removed or replaced "
                f"mid-mutation"
            )

    def __enter__(self) -> "_writer_lock":
        while not self.owns():
            self._close()
            fd = os.open(self.lock, os.O_RDWR | os.O_CREAT, 0o644)
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError as e:
                os.close(fd)
                if not isinstance(e, BlockingIOError):
                    raise
                raise StoreWriterConflict(
                    f"store {self.lock[: -len('._writerlock')]} is "
                    f"owned by live writer pid "
                    f"{_writer_lock_holder(self.lock)}"
                ) from None
            self._fd = fd
        os.ftruncate(self._fd, 0)
        os.write(self._fd, f"{_local_host()}:{os.getpid()}".encode())
        return self

    def __exit__(self, *exc) -> None:
        if self.owns():  # never remove another writer's lock file
            try:
                os.remove(self.lock)
            except OSError:
                pass
        self._close()

    def _close(self) -> None:
        if self._fd is not None:
            os.close(self._fd)
            self._fd = None


def recover_swap(path: str) -> None:
    """Recover from a previous interrupted ``swap_publish``: data
    parked aside with no live directory means the crash hit between
    the two renames — restore it; a stale aside next to a live table
    is a finished swap whose cleanup died — just clear it. Call
    before WRITING a table that may have a pending swap.

    WRITE PATH: this mutates the table directory unconditionally,
    under the ``._writerlock``; it raises :class:`StoreWriterConflict`
    if a live process already owns the store. Readers use
    ``live_read_path``, which mutates only when it can take the lock
    itself. A path whose parent does not exist has nothing to
    recover — returns without locking.
    """
    if not os.path.isdir(os.path.dirname(path.rstrip("/")) or "."):
        return
    with _writer_lock(path) as lk:
        _recover_swap(path, lk)


def _recover_swap(path: str, lk: _writer_lock) -> None:
    """``recover_swap`` body — caller MUST hold the writer lock. Also
    clears a ``._swaplock`` marker left behind by older code."""
    lk.fence()
    base = path.rstrip("/")
    aside = base + "._precompact"
    tmp = base + "._compacting"
    if os.path.exists(aside):
        if os.path.exists(path):
            shutil.rmtree(aside)
        else:
            os.rename(aside, path)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    try:
        os.remove(base + "._swaplock")
    except OSError:
        pass


def live_read_path(path: str) -> str:
    """Where a READER should read the table: ``path`` normally, the
    parked ``._precompact`` directory while a publish is in flight.

    - no aside, or aside AND live dir -> ``path``, touching nothing
      (a finished swap whose cleanup died leaves the aside for the
      next writer's ``recover_swap``).
    - aside, no live dir (the layout between ``swap_publish``'s two
      renames) -> ask the writer lock. Held: a publish is in flight,
      so read the parked bytes (the complete pre-publish store) and
      touch nothing that belongs to the owner. Acquired: no writer is
      live, so the swap crashed — restore it under the lock and read
      ``path`` (a crashed swap must never read as a legitimately
      empty store).
    """
    aside = path.rstrip("/") + "._precompact"
    if not os.path.exists(aside) or os.path.exists(path):
        return path
    try:
        with _writer_lock(path) as lk:
            _recover_swap(path, lk)
    except StoreWriterConflict:
        return aside
    return path


def swap_publish(path: str, write_tmp) -> None:
    """Atomically replace the table directory at ``path`` with the
    output of ``write_tmp(tmp_dir)``.

    Publishes via two metadata-only renames so there is never a
    window where the table is gone and unrecoverable: the old data
    is parked aside first and only deleted once the new directory is
    live. Runs ``recover_swap`` first, so an interrupted previous
    swap can never be double-parked. ``write_tmp`` may lazily read
    from ``path`` — the source stays live until it returns.

    The ``._writerlock`` is held for the WHOLE publish —
    ``write_tmp`` included — so a second writer or compactor racing
    this one fails with :class:`StoreWriterConflict` before touching
    anything, and a reader that finds the table parked aside knows
    from the held lock that the publish is in flight.
    """
    os.makedirs(os.path.dirname(path.rstrip("/")) or ".", exist_ok=True)
    with _writer_lock(path) as lk:
        _swap_publish(path, write_tmp, lk)


def _swap_publish(path: str, write_tmp, lk: _writer_lock) -> None:
    """``swap_publish`` body — caller MUST hold the writer lock."""
    base = path.rstrip("/")
    _recover_swap(path, lk)
    tmp = base + "._compacting"
    aside = base + "._precompact"
    write_tmp(tmp)
    lk.fence()
    os.rename(path, aside)
    os.rename(tmp, path)
    shutil.rmtree(aside)


def compact(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int = 1_000_000,
    fmt: str = "parquet",
) -> int:
    """Small-files compaction: rewrite a table directory into
    ceil(rows / target) files. The classic operational fix for
    streaming/micro-batch sinks — thousands of tiny files turn scan
    planning and footer reads into the bottleneck long before I/O.

    Returns the number of output files written.

    Holds the ``._writerlock`` across read-count-rewrite-publish, so
    a compactor and a writer can never interleave on one store —
    the late one raises :class:`StoreWriterConflict` (r11).
    """
    with _writer_lock(path) as lk:
        _recover_swap(path, lk)
        df = getattr(spark.read, fmt)(path)
        n = df.count()
        n_files = max(1, -(-n // target_rows_per_file))
        _swap_publish(
            path,
            lambda tmp: getattr(
                df.repartition(n_files).write.mode("overwrite"), fmt
            )(tmp),
            lk,
        )
    return n_files


def table_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe (reference views.py:92-96 404 behavior).

    Catches ONLY AnalysisException — the missing-path/no-footers
    case Spark raises for an absent table. A permission error or
    corrupt filesystem raises through: reporting a BROKEN store as a
    clean 404 is the same silent-loss class the round-9 store
    readers eliminated (storeio.read_store discipline)."""
    from pyspark.errors import AnalysisException

    from projet_etl_spark.sources.tables import read_parquet

    try:
        read_parquet(spark, path).schema
        return True
    except AnalysisException:
        return False
