"""ETL models: sources, sinks, transforms — compiled to lazy DataFrames.

Parity target: reference ``pydin/models.py`` (Table/SQL/Select/Insert/
CSV/JSON/XML/Files/Filenames/FileManager/Mapper, 2392 LoC). The reference
moves list-of-dict chunks through queues between extractor/transformer/
loader threads (``models.py:273-291, 314-338, 361-385``); here every model
*declares* a DataFrame and Catalyst plans the whole read→transform→write
pipeline (whole-stage codegen replaces the queue threads, shuffle replaces
the chunk hand-off, spill replaces chunk-bounded memory).

Shared config surface parity (``models.py:41-64``): ``model_name,
source_name, date_field, days_back/hours_back/months_back, timezone,
value_field, target_value, key_field, chunk_size, cleanup``.

Scale notes (100 TB): all file models take directory/glob paths and write
partitioned output by default — the reference's single-file append
semantics (``models.py:1366-1374``) are available behind
``single_file=True`` which coalesces to one part and renames, for parity
tests only. Date-window and watermark predicates are plain ``Column``
filters, so Catalyst pushes them into the parquet/JDBC scan
(PushedFilters) and partition-prunes at any scale.
"""

from __future__ import annotations

import datetime as dt
import glob as _glob
import gzip as _gzip
import os
import posixpath
import re
import shutil
import warnings

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from . import fields as _fields
from . import fs as _fs
from .calendar import Day, Period
from .sources import Database, Filesystem, Server, registry as default_registry


def _path_bytes(path: str) -> int | None:
    """Driver-visible size of a sink path (file or part-file directory);
    None when the path isn't local (object stores report via their own
    metrics)."""
    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        if os.path.isdir(path):
            return sum(os.path.getsize(os.path.join(root, f))
                       for root, _, names in os.walk(path) for f in names)
    except OSError:
        pass
    return None


# ---------------------------------------------------------------------------
# file-scoped recycle
# ---------------------------------------------------------------------------

#: hidden directory (Spark's readers skip ``_`` names) where a recycle
#: stages the survivors of mixed files next to its manifest
_RECYCLE_STAGING = "_recycle"


def _recycle_files(spark: SparkSession, root: str, fmt: str,
                   key_field_label: str, key_value) -> None:
    """Delete-by-run-key on a file dataset that touches only the files
    holding the recycled run's rows (reference ``models.py:469-475``;
    Delta's DELETE rewrites only matching files the same way).

    Each load writes one run into its own files, so the common case is
    a metadata-only delete: no other run's rows are read or written. A
    *mixed* file (compaction, NULL keys, an older full rewrite) has its
    survivors staged under ``_recycle/`` with a manifest of the files
    they replace; only then are those files deleted and the staged
    files moved into their directories. A recycle first rolls forward
    any complete staging it finds, so a crash at any point loses no
    other run's rows, and re-running the recycle finishes the job.
    Partition directories left empty are removed."""
    if not _fs.exists(spark, root):
        return
    jroot = spark._jvm.org.apache.hadoop.fs.Path(root)
    qroot = str(jroot.getFileSystem(spark._jsc.hadoopConfiguration())
                .makeQualified(jroot).toString())
    staging = f"{qroot}/{_RECYCLE_STAGING}"
    emptied = _roll_forward(spark, staging)
    try:
        df = spark.read.format(fmt).load(root)
    except AnalysisException as exc:
        if exc.getCondition() != "UNABLE_TO_INFER_SCHEMA":
            raise
        df = None  # no data file left
    if df is not None and key_field_label in df.columns:
        key, value = F.col(key_field_label), F.lit(key_value)
        keep = (key != value) | key.isNull()
        files = _input_files(df.where(key == value))
        # the row groups of pure files hold only `value`: parquet/ORC
        # statistics prune them, so this reads footers only
        mixed = _input_files(
            spark.read.format(fmt).schema(df.schema)
            .option("basePath", root).load(files).where(keep)
        ) if files else []
        if mixed:
            _stage_survivors(spark, fmt, staging, mixed, keep)
        elif (files and len(files) == len(df.inputFiles())
              and all(posixpath.dirname(f) == qroot for f in files)):
            # every row goes: a schema-only file keeps an unpartitioned
            # dataset readable as an empty table, as a DELETE would
            df.limit(0).write.format(fmt).mode("append").save(root)
        for path in sorted(set(files) - set(mixed)):
            _fs.delete(spark, path, recursive=False)
            emptied.add(posixpath.dirname(path))
        if mixed:
            emptied |= _roll_forward(spark, staging)
    _drop_empty_dirs(spark, qroot, emptied)
    spark.catalog.refreshByPath(root)


def _input_files(df: DataFrame) -> list[str]:
    """Every file feeding ``df``, in the filesystem's own path form.
    ``coalesce(1)`` lets the distinct plan without an Exchange.
    ``input_file_name()`` is URL-encoded (the partition ``c=x:y`` lives
    in ``c=x%3Ay`` and comes back as ``c=x%253Ay``), so each name is
    decoded through ``java.net.URI``."""
    jvm = df.sparkSession._jvm
    rows = (df.select(F.input_file_name().alias("f")).coalesce(1)
            .distinct().collect())
    return sorted(
        str(jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(r.f)).toString())
        for r in rows)


def _stage_survivors(spark: SparkSession, fmt: str, staging: str,
                     mixed: list[str], keep: Column) -> None:
    """Write the ``keep`` rows of ``mixed`` under ``staging``, one
    directory per source directory, then the manifest that makes the
    staging complete. Files read without a base path carry no
    partition columns; their directory restores those."""
    by_dir: dict[str, list[str]] = {}
    for path in mixed:
        by_dir.setdefault(posixpath.dirname(path), []).append(path)
    plan = [("delete", path, None) for path in mixed]
    for i, (target, paths) in enumerate(sorted(by_dir.items())):
        staged = f"{staging}/data/{i}"
        (spark.read.format(fmt).load(paths).where(keep)
         .write.format(fmt).save(staged))
        plan.append(("move", staged, target))
    (spark.createDataFrame(plan, "op string, path string, target string")
     .coalesce(1).write.parquet(f"{staging}/manifest"))


def _roll_forward(spark: SparkSession, staging: str) -> set[str]:
    """Finish a staged mixed-file rewrite: delete the files its
    manifest lists, move the staged files into place and drop the
    staging. Staging without a committed manifest is dropped unused
    (nothing was deleted before the manifest landed). Returns the
    directories files were deleted from."""
    if not _fs.exists(spark, staging):
        return set()
    manifest = f"{staging}/manifest"
    committed = _fs.exists(spark, manifest) and any(
        not name.startswith(("_", "."))
        for name in _fs.listdir(spark, manifest))
    emptied = set()
    if committed:
        plan = spark.read.parquet(manifest).collect()
        for op, path, _ in plan:
            if op == "delete":
                _fs.delete(spark, path, recursive=False, ignore_errors=True)
                emptied.add(posixpath.dirname(path))
        for op, path, target in plan:
            if op == "move":
                _fs.mkdirs(spark, target)
                for name in _fs.listdir(spark, path):
                    if not name.startswith(("_", ".")):
                        _fs.rename(spark, f"{path}/{name}",
                                   f"{target}/{name}")
    _fs.delete(spark, staging)
    return emptied


def _drop_empty_dirs(spark: SparkSession, qroot: str, dirs: set) -> None:
    """Remove every directory below ``qroot`` on the way from ``dirs``
    up that is now empty, deepest first."""
    below = set()
    for d in dirs:
        while d.startswith(qroot + "/"):
            below.add(d)
            d = posixpath.dirname(d)
    for d in sorted(below, key=lambda p: p.count("/"), reverse=True):
        if _fs.exists(spark, d) and not _fs.listdir(spark, d):
            _fs.delete(spark, d)


# ---------------------------------------------------------------------------
# base model + capability mixins
# ---------------------------------------------------------------------------

class Model:
    """Base ETL model with the reference's shared config surface."""

    def __init__(self, model_name: str | None = None,
                 source_name: str | None = None,
                 date_field: str | None = None,
                 days_back: int | None = None,
                 hours_back: int | None = None,
                 months_back: int | None = None,
                 timezone=None,
                 value_field: str | None = None,
                 target_value=None,
                 key_field=None,
                 insert_key_field: bool = True,
                 chunk_size: int = 1000,
                 cleanup: bool = False,
                 **options):
        self.model_name = model_name or type(self).__name__.lower()
        self.source_name = source_name
        self.date_field = date_field
        self.days_back = days_back
        self.hours_back = hours_back
        self.months_back = months_back
        self.timezone = timezone
        self.value_field = value_field
        self.target_value = target_value
        self.key_field = _fields.resolve(key_field) if key_field else None
        self.insert_key_field = insert_key_field
        self.chunk_size = chunk_size
        self.cleanup = cleanup
        if options:
            # nothing consumes stray kwargs — a typo like date=Day(...)
            # (the business date belongs on Pipeline) would silently load
            # the wrong window
            raise TypeError(
                f"{type(self).__name__} got unexpected keyword argument(s) "
                f"{sorted(options)}; the business date is set on "
                "Pipeline(date=...), not on models")
        self.records_error = 0  # populated by error-budget load paths
        self.pipeline = None  # attached by Pipeline.add

    # -- source resolution ---------------------------------------------------
    @property
    def registry(self):
        if self.pipeline is not None and self.pipeline.registry is not None:
            return self.pipeline.registry
        return default_registry

    @property
    def source(self):
        if self.source_name is None:
            return self.registry.resolve("localhost")
        return self.registry.resolve(self.source_name)

    @property
    def spark(self) -> SparkSession:
        if self.pipeline is not None and self.pipeline.spark is not None:
            return self.pipeline.spark
        return SparkSession.builder.getOrCreate()

    @property
    def audit(self):
        """Audit recorder when the owning pipeline carries one
        (pd_query_log / pd_file_log parity, utils.py:714-869)."""
        return getattr(self.pipeline, "audit", None)

    # -- business-date window (reference models.py:99-144) -------------------
    @property
    def target_period(self) -> Period | None:
        if not self.date_field:
            return None
        period = (self.pipeline.calendar if self.pipeline is not None
                  else Day(dt.datetime.now()))
        if isinstance(self.days_back, int):
            period = period.days_back(self.days_back)
        elif isinstance(self.hours_back, int):
            period = period.hours_back(self.hours_back)
        elif isinstance(self.months_back, int):
            period = period.months_back(self.months_back)
        if self.timezone is not None:
            period = period.with_timezone(self.timezone)
        return period

    @property
    def date_from(self):
        period = self.target_period
        return period.start if period else None

    @property
    def date_to(self):
        period = self.target_period
        return period.end if period else None

    def date_window_predicate(self) -> Column | None:
        """Inclusive BETWEEN on date_field (reference models.py:856-860)."""
        if not self.date_field:
            return None
        return F.col(self.date_field).between(
            F.lit(self.date_from), F.lit(self.date_to))

    def watermark_predicate(self, last_value) -> Column | None:
        """Strict ``>`` on value_field (reference models.py:862-867)."""
        if not self.value_field or last_value is None:
            return None
        return F.col(self.value_field) > F.lit(last_value)

    def apply_read_filters(self, df: DataFrame, sink=None) -> DataFrame:
        """Attach date-window + watermark filters; Catalyst pushes them to
        the scan, so the remote/storage side prunes exactly as the
        reference's SQL-rewrite pushdown did (utils.py:372-388)."""
        predicate = self.date_window_predicate()
        if predicate is not None:
            df = df.where(predicate)
        if self.value_field:
            last = self.target_value
            if last is None and sink is not None:
                last = sink.get_last_value(self.value_field)
            predicate = self.watermark_predicate(last)
            if predicate is not None:
                df = df.where(predicate)
        return df

    def attach_key_field(self, df: DataFrame) -> DataFrame:
        """Lineage literal column (reference models.py:227-232)."""
        if self.key_field is not None and self.insert_key_field:
            context = self.pipeline if self.pipeline is not None else self
            df = self.key_field.apply(df, context)
        return df


class Extractable:
    """A model that can produce a DataFrame."""

    extractable = True

    def extract(self) -> DataFrame:  # pragma: no cover - abstract
        raise NotImplementedError


class Transformable:
    """A model that maps one DataFrame to another."""

    transformable = True

    def transform(self, df: DataFrame) -> DataFrame:  # pragma: no cover
        raise NotImplementedError


class Loadable:
    """A model that can persist a DataFrame."""

    loadable = True

    def prepare(self) -> None:
        """Pre-load cleanup when ``cleanup=True`` (models.py:452-459)."""

    def load(self, df: DataFrame) -> int:  # pragma: no cover - abstract
        raise NotImplementedError

    def get_last_value(self, value_field: str):
        """max(value_field) over current sink contents (models.py:1172-1178)."""
        try:
            df = self.extract()  # type: ignore[attr-defined]
        except Exception:
            return None
        if df is None or value_field not in df.columns:
            return None
        row = df.agg(F.max(value_field).alias("wm")).first()
        return row["wm"] if row else None

    def recycle(self, key_field_label: str, key_value) -> None:
        """Delete rows of a prior run before re-load (models.py:469-475)."""
        raise NotImplementedError(
            f"{type(self).__name__} does not support recycle")


class Executable:
    """A model that performs an action with no dataset flow."""

    executable = True

    def execute(self) -> int | None:  # pragma: no cover - abstract
        raise NotImplementedError


# ---------------------------------------------------------------------------
# file models
# ---------------------------------------------------------------------------

class FileModel(Model, Extractable, Loadable):
    """Shared path handling for CSV/JSON/XML/Parquet.

    ``file_name`` may contain strftime codes resolved against the
    pipeline's business date (reference ``models.py:1207``).
    """

    format_name = "parquet"

    def __init__(self, file_name: str | None = None, path: str | None = None,
                 single_file: bool = False, **kwargs):
        super().__init__(**kwargs)
        self.file_name = file_name
        self.path = path
        self.single_file = single_file

    @property
    def resolved_path(self) -> str:
        name = self.file_name or ""
        if name and "%" in name:
            moment = (self.pipeline.calendar.now if self.pipeline is not None
                      else dt.datetime.now())
            name = moment.strftime(name)
        base = self.path or ""
        source = self.source
        if isinstance(source, Filesystem) and source.base:
            base = source.path(base)
        return os.path.join(base, name) if base else name

    # -- shared read/write plumbing ----------------------------------------
    def extract(self) -> DataFrame:
        raise NotImplementedError

    def prepare(self) -> None:
        if self.cleanup:
            target = self.resolved_path
            if os.path.isdir(target):
                shutil.rmtree(target)
            elif os.path.isfile(target):
                os.remove(target)

    def load(self, df: DataFrame) -> int:
        df = self.attach_key_field(df)
        out = df.coalesce(1) if self.single_file else df
        self._write(out)
        if self.single_file:
            self._finalize_single_file()
        if self.audit is not None:
            source = self.source
            server = (source.name or "localhost"
                      if isinstance(source, Filesystem) else "localhost")
            self.audit.file(server, self.resolved_path, "W", "D",
                            _path_bytes(self.resolved_path))
        return -1  # row count comes from pipeline Observation metrics

    def _write(self, df: DataFrame) -> None:  # pragma: no cover - abstract
        raise NotImplementedError

    def _finalize_single_file(self) -> None:
        """Collapse Spark's part-file directory to one file (parity with the
        reference's single-file sinks, models.py:1366-1374). In append
        mode the parts are appended to an existing file."""
        target = self.resolved_path
        tmp = target + ".__spark_dir__"
        if not os.path.isdir(tmp):
            return
        parts = sorted(
            p for p in _glob.glob(os.path.join(tmp, "part-*"))
            if not p.endswith(".crc"))
        append = (getattr(self, "mode", "append") == "append"
                  and os.path.isfile(target)
                  and os.path.getsize(target) > 0)
        with open(target, "ab" if append else "wb") as out:
            for part in parts:
                with open(part, "rb") as src:
                    data = src.read()
                if append and getattr(self, "head", False):
                    # header only iff file was empty (models.py:1366-1374)
                    newline = data.find(b"\n")
                    data = data[newline + 1:] if newline >= 0 else b""
                out.write(data)
        shutil.rmtree(tmp)

    def _write_target(self) -> str:
        return (self.resolved_path + ".__spark_dir__" if self.single_file
                else self.resolved_path)

    def recycle(self, key_field_label: str, key_value) -> None:
        """Rewrite the dataset minus the recycled run's rows: the path of
        the row formats (CSV, JSON, Avro) and of ``single_file`` sinks.
        Parquet/ORC directories and lakehouse Tables delete only the
        recycled run's files (:func:`_recycle_files`); Delta and JDBC run
        a real DELETE."""
        df = self.extract()
        if key_field_label not in df.columns:
            return
        kept = df.where(
            (F.col(key_field_label) != F.lit(key_value))
            | F.col(key_field_label).isNull())
        kept = kept.localCheckpoint()  # materialize before overwrite
        self.prepare_force()
        self._write(kept.coalesce(1) if self.single_file else kept)
        if self.single_file:
            self._finalize_single_file()
        # drop stale file listings for the rewritten path
        self.spark.catalog.refreshByPath(self.resolved_path)

    def prepare_force(self) -> None:
        target = self.resolved_path
        if os.path.isdir(target):
            shutil.rmtree(target)
        elif os.path.isfile(target):
            os.remove(target)


class Parquet(FileModel):
    """Parquet source/sink (engine extension — the lakehouse-native format).

    At scale: columnar scan with predicate pushdown + column pruning;
    writes are append-partitioned (``partition_by=[...]``) so downstream
    date-window reads partition-prune.
    """

    format_name = "parquet"

    def __init__(self, *args, partition_by: list[str] | None = None,
                 mode: str = "append", **kwargs):
        super().__init__(*args, **kwargs)
        self.partition_by = partition_by or []
        self.mode = mode
        if self.single_file and self.mode == "append":
            raise ValueError(
                "Parquet single_file=True cannot append: parquet files "
                "are not byte-concatenable (two footers). Use "
                "mode='overwrite', or drop single_file and let the "
                "directory accumulate part files")

    def extract(self) -> DataFrame:
        return (self.spark.read.format(self.format_name)
                .load(self.resolved_path))

    def _write(self, df: DataFrame) -> None:
        # format-generic so ORC/Delta inherit the exact writer (options
        # added here apply to every columnar sink)
        writer = df.write.format(self.format_name).mode(self.mode)
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.save(self._write_target())

    def recycle(self, key_field_label: str, key_value) -> None:
        """File-scoped recycle, partitioned or not: only the files that
        hold the recycled run's rows are deleted or rewritten
        (:func:`_recycle_files`). A ``single_file`` sink keeps the base
        rewrite."""
        if self.single_file:
            return super().recycle(key_field_label, key_value)
        _recycle_files(self.spark, self.resolved_path, self.format_name,
                       key_field_label, key_value)


class ORC(Parquet):
    """ORC source/sink (engine extension). The entire Parquet surface —
    predicate pushdown, column pruning, partitioned layout,
    file-scoped recycle — is inherited through the format-generic
    reader/writer; the format choice is usually dictated by the
    surrounding warehouse (Hive-era lakes are ORC)."""

    format_name = "orc"


class Avro(FileModel):
    """Avro source/sink (engine extension), gated on the spark-avro
    connector being on the JVM classpath (external module; ship via
    ``spark.jars.packages org.apache.spark:spark-avro_2.13:<ver>``).
    Row-oriented — the right sink when downstream consumers are
    Kafka-ecosystem readers rather than columnar scans. Fails at first
    use with the dependency to add instead of Spark's generic
    DATA_SOURCE_NOT_FOUND."""

    format_name = "avro"

    _GATE_MSG = ("Avro needs the spark-avro connector on the classpath "
                 "(spark.jars.packages=org.apache.spark:spark-avro_2.13:"
                 "<spark-version>); use Parquet/ORC otherwise")

    def __init__(self, *args, mode: str = "append", **kwargs):
        super().__init__(*args, **kwargs)
        self.mode = mode
        if self.single_file:
            # byte-appending two complete Avro containers (each with its
            # own header/schema block) corrupts the file — same guard
            # class as Parquet's
            raise ValueError(
                "Avro single_file=True is not supported: Avro container "
                "files are not byte-concatenable. Let the directory "
                "accumulate part files")

    @classmethod
    def _reraise_if_gate(cls, exc: Exception) -> None:
        """Substitute the dependency hint ONLY for the missing-connector
        failure; every other error (missing path, schema, disk) passes
        through untouched."""
        text = f"{type(exc).__name__}: {exc}"
        markers = ("DATA_SOURCE_NOT_FOUND", "Failed to find data source",
                   "ClassNotFoundException", "avro.AvroFileFormat")
        if any(m in text for m in markers):
            raise RuntimeError(cls._GATE_MSG) from exc
        raise exc

    def extract(self) -> DataFrame:
        try:
            return self.spark.read.format("avro").load(self.resolved_path)
        except Exception as exc:  # noqa: BLE001 - dependency gate
            self._reraise_if_gate(exc)

    def _write(self, df: DataFrame) -> None:
        try:
            df.write.format("avro").mode(self.mode) \
                .save(self._write_target())
        except Exception as exc:  # noqa: BLE001 - dependency gate
            self._reraise_if_gate(exc)


def _delta_available() -> bool:
    import importlib.util
    return importlib.util.find_spec("delta") is not None


class Delta(Parquet):
    """Delta Lake source/sink (engine extension), gated on the
    delta-spark package being installed and configured.

    Why it matters at 100 TB: ``recycle`` and watermark reloads become
    metadata-level ``DELETE``/``MERGE`` operations (transaction-log
    rewrite of only the affected files, which the raw-parquet
    file-scoped recycle approximates without a log), and concurrent
    writers get ACID isolation.
    Absent the package — as in this container — construction raises
    with the exact dependency to add instead of Spark's generic
    DATA_SOURCE_NOT_FOUND at action time.
    """

    format_name = "delta"

    def __init__(self, *args, **kwargs):
        if not _delta_available():
            raise ImportError(
                "Delta sink needs the delta-spark package (pip install "
                "delta-spark, plus spark.sql.extensions="
                "io.delta.sql.DeltaSparkSessionExtension and "
                "spark.sql.catalog.spark_catalog=org.apache.spark.sql."
                "delta.catalog.DeltaCatalog on the session); fall back "
                "to the Parquet model otherwise")
        super().__init__(*args, **kwargs)

    def recycle(self, key_field_label: str, key_value) -> None:
        """Transactional delete-by-run-key (reference models.py:469-475
        semantics) — no file rewrite, no partition bookkeeping. No-op
        when the sink never carried the lineage column (parity with the
        other recycle implementations)."""
        if key_field_label not in self.extract().columns:
            return
        self.spark.sql(
            f"DELETE FROM delta.`{self.resolved_path}` "
            f"WHERE {key_field_label} = {_sql_literal(key_value)}")


def _sql_literal(value) -> str:
    """SQL literal for a lineage-key value (int/str/bool/date/datetime).
    Dates and datetimes MUST be typed literals: a bare 2024-01-01 parses
    as integer subtraction and silently matches nothing."""
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, str):
        escaped = value.replace("'", "''")
        return f"'{escaped}'"
    if isinstance(value, dt.datetime):
        return f"TIMESTAMP '{value}'"
    if isinstance(value, dt.date):
        return f"DATE '{value}'"
    return str(value)


class CSV(FileModel):
    """Delimited text source/sink.

    Reference defaults (``models.py:1256-1343``): ``delimiter=';'``,
    ``terminator='\\r\\n'``, optional header, optional quote enclosure,
    optional whitespace trim. Reading uses PERMISSIVE mode with a corrupt
    record column so the pipeline's ``error_limit`` semantics
    (``models.py:280-291``) can count bad rows without aborting the scan.
    """

    format_name = "csv"

    def __init__(self, file_name=None, path=None, encoding: str = "utf-8",
                 head: bool = True, columns: list[str] | None = None,
                 delimiter: str = ";", terminator: str = "\r\n",
                 enclosure: str | None = None, trim: bool = False,
                 infer_schema: bool = True, schema=None, mode="append",
                 **kwargs):
        super().__init__(file_name, path, **kwargs)
        self.encoding = encoding
        self.head = head
        self.columns = columns
        self.delimiter = delimiter
        self.terminator = terminator
        self.enclosure = enclosure
        self.trim = trim
        self.infer_schema = infer_schema
        self.schema = schema
        self.mode = mode

    def extract(self) -> DataFrame:
        reader = (self.spark.read
                  .option("sep", self.delimiter)
                  .option("encoding", self.encoding)
                  .option("header", self.head)
                  .option("mode", "PERMISSIVE")
                  .option("columnNameOfCorruptRecord", "_corrupt_record"))
        if self.enclosure:
            reader = reader.option("quote", self.enclosure)
        if self.trim:
            reader = (reader
                      .option("ignoreLeadingWhiteSpace", True)
                      .option("ignoreTrailingWhiteSpace", True))
        track_errors = (self.pipeline is not None
                        and self.pipeline.error_limit is not None)
        if self.schema is not None:
            reader = reader.schema(self.schema)
        elif self.infer_schema and track_errors:
            # PERMISSIVE only materializes the corrupt-record column when
            # it is declared in an explicit schema — infer first, then
            # append the corrupt field so error_limit accounting works
            from pyspark.sql import types as T
            inferred = (self.spark.read
                        .option("sep", self.delimiter)
                        .option("header", self.head)
                        .option("inferSchema", True)
                        .csv(self.resolved_path).schema)
            if "_corrupt_record" not in inferred.fieldNames():
                inferred = inferred.add(
                    T.StructField("_corrupt_record", T.StringType()))
            reader = reader.schema(inferred)
        elif self.infer_schema:
            reader = reader.option("inferSchema", True)
        df = reader.csv(self.resolved_path)
        if self.columns:
            # keep _corrupt_record out of the positional rename AND in
            # the projection — dropping it here would silently disable
            # the PERMISSIVE error budget for explicit-column reads
            data_cols = [c for c in df.columns if c != "_corrupt_record"]
            renames = dict(zip(data_cols, self.columns))
            df = df.withColumnsRenamed(renames)
            keep = list(self.columns)
            if "_corrupt_record" in df.columns:
                keep.append("_corrupt_record")
            df = df.select(*keep)
        return df

    def _write(self, df: DataFrame) -> None:
        writer = (df.write.mode(self.mode)
                  .option("sep", self.delimiter)
                  .option("header", self.head)
                  .option("encoding", self.encoding)
                  .option("lineSep", self.terminator if
                          self.terminator in ("\n", "\r\n") else "\n")
                  .option("emptyValue", ""))
        if self.enclosure:
            writer = writer.option("quote", self.enclosure)
        writer.csv(self._write_target())


class JSON(FileModel):
    """JSON source/sink. Reference reads one file holding a JSON array
    (``models.py:1379-1403``); at scale the engine defaults to JSON-lines
    directories (``multiline=False``) which parallelize per-block.
    """

    format_name = "json"

    def __init__(self, file_name=None, path=None, encoding="utf-8",
                 multiline: bool = True, mode: str = "append", **kwargs):
        super().__init__(file_name, path, **kwargs)
        self.encoding = encoding
        self.multiline = multiline
        self.mode = mode

    def extract(self) -> DataFrame:
        # a directory sink is JSON-lines part files (one object per
        # line); only a single array file needs multiLine parsing
        multiline = self.multiline and not os.path.isdir(self.resolved_path)
        return (self.spark.read
                .option("multiLine", multiline)
                .option("encoding", self.encoding)
                .json(self.resolved_path))

    def _write(self, df: DataFrame) -> None:
        # Spark writes JSON-lines; single-file array parity is finalized
        # below by wrapping lines into one array file.
        df.write.mode(self.mode).json(self._write_target())

    def _finalize_single_file(self) -> None:
        target = self.resolved_path
        tmp = target + ".__spark_dir__"
        if not os.path.isdir(tmp):
            return
        records = []
        for part in sorted(_glob.glob(os.path.join(tmp, "part-*"))):
            if part.endswith(".crc"):
                continue
            with open(part, "r", encoding=self.encoding) as src:
                records.extend(line.rstrip("\n") for line in src if line.strip())
        existing = []
        if os.path.isfile(target) and self.mode == "append":
            import json as _json
            with open(target, encoding=self.encoding) as src:
                content = src.read().strip()
            if content:
                existing = [_json.dumps(r, ensure_ascii=False)
                            for r in _json.loads(content)]
        with open(target, "w", encoding=self.encoding) as out:
            out.write("[\n")
            out.write(",\n".join(existing + records))
            out.write("\n]")
        shutil.rmtree(tmp)


class XML(FileModel):
    """XML source/sink shaped ``<data><record><field>...`` (reference
    ``models.py:1414-1454``). Values are strings, matching the reference's
    stringification on load (``models.py:1448``).

    The native ``spark.read.format('xml')`` source is used when available
    (Spark 4 ships spark-xml in-core); a driver-side ElementTree fallback
    covers single-file parity when it is not. At 100 TB, XML ingest goes
    through the native distributed source with ``rowTag``.
    """

    format_name = "xml"

    def __init__(self, file_name=None, path=None, encoding="utf-8",
                 row_tag: str = "record", root_tag: str = "data",
                 mode: str = "append", **kwargs):
        super().__init__(file_name, path, **kwargs)
        self.encoding = encoding
        self.row_tag = row_tag
        self.root_tag = root_tag
        self.mode = mode

    def extract(self) -> DataFrame:
        try:
            df = (self.spark.read.format("xml")
                  .option("rowTag", self.row_tag)
                  .load(self.resolved_path))
            # stringify for reference parity (models.py:1448)
            return df.select(*[F.col(c).cast("string").alias(c)
                               for c in df.columns])
        except Exception:
            return self._extract_driver_side()

    def _extract_driver_side(self) -> DataFrame:
        import xml.etree.ElementTree as ET
        tree = ET.parse(self.resolved_path)
        rows = [{field.tag: (field.text if field.text is not None else "")
                 for field in record}
                for record in tree.getroot()]
        columns = list(dict.fromkeys(k for r in rows for k in r))
        data = [tuple(r.get(c) for c in columns) for r in rows]
        return self.spark.createDataFrame(
            data, schema=", ".join(f"`{c}` string" for c in columns))

    def load(self, df: DataFrame) -> int:
        df = self.attach_key_field(df)
        self._write_driver_side(df)
        return -1

    def recycle(self, key_field_label: str, key_value) -> None:
        """XML sink recycle: filter + full driver-side rewrite (the base
        FileModel path would call the abstract _write after deleting the
        file)."""
        if not os.path.isfile(self.resolved_path):
            return
        df = self.extract()
        if key_field_label not in df.columns:
            return
        # XML loads stringify every value (models.py:1448 parity)
        kept = df.where(
            (F.col(key_field_label) != F.lit(str(key_value)))
            | F.col(key_field_label).isNull())
        rows = kept.localCheckpoint()
        self.prepare_force()
        previous_mode, self.mode = self.mode, "overwrite"
        try:
            self._write_driver_side(rows)
        finally:
            self.mode = previous_mode
        self.spark.catalog.refreshByPath(self.resolved_path)

    def _write_driver_side(self, df: DataFrame) -> None:
        import xml.etree.ElementTree as ET
        target = self.resolved_path
        if os.path.isfile(target) and self.mode == "append":
            tree = ET.parse(target)
            root = tree.getroot()
        else:
            root = ET.Element(self.root_tag)
            tree = ET.ElementTree(root)
        columns = df.columns
        # collect(), not toLocalIterator(): the iterator path never fires
        # the query-completion event, leaving pipeline Observations (and
        # thus Step metrics) blocked forever. Single-file XML sinks are
        # small by contract (reference models.py:1441-1454).
        for row in df.collect():
            record = ET.SubElement(root, self.row_tag)
            for column in columns:
                el = ET.SubElement(record, column)
                value = row[column]
                el.text = "" if value is None else str(value)
        ET.indent(tree)
        tree.write(target, encoding=self.encoding, xml_declaration=True)


# ---------------------------------------------------------------------------
# database / SQL models
# ---------------------------------------------------------------------------

class Table(Model, Extractable, Loadable):
    """A named table on a source: JDBC database or lakehouse filesystem.

    Reference ``Table`` (``models.py:440-611``): full scan + chunked
    insert, optional pre-load truncate/delete, recycle by key.

    Spark mapping: on a ``Database`` source this is
    ``spark.read.format('jdbc').option('dbtable', ...)`` with partitioned
    reads (``partition_column/num_partitions`` ≈ the reference's Oracle
    parallel hint, models.py:735-750) and ``df.write.jdbc`` with
    ``batchsize`` ≈ ``commit_size``; on a ``Filesystem`` source it is a
    parquet table at ``<base>/<schema>/<table>`` — the lakehouse path the
    reference never had.
    """

    def __init__(self, source_name=None, schema_name: str | None = None,
                 table_name: str | None = None, db_link: str | None = None,
                 append: bool = True, partition_column: str | None = None,
                 num_partitions: int | None = None,
                 lower_bound=None, upper_bound=None,
                 connection_factory=None, paramstyle: str = "qmark",
                 **kwargs):
        super().__init__(source_name=source_name, **kwargs)
        self.schema_name = schema_name
        self.table_name = table_name
        self.db_link = db_link
        self.append = append
        self.partition_column = partition_column
        self.num_partitions = num_partitions
        self.lower_bound = lower_bound
        self.upper_bound = upper_bound
        #: zero-arg picklable callable returning a DB-API connection on the
        #: executors; enables the per-chunk error-budget load path
        #: (reference models.py:376-385 semantics, SURVEY §7 hard part 3)
        self.connection_factory = connection_factory
        self.paramstyle = paramstyle

    @property
    def qualified_name(self) -> str:
        name = self.table_name or self.model_name
        if self.schema_name:
            name = f"{self.schema_name}.{name}"
        if self.db_link:
            name = f"{name}@{self.db_link}"
        return name

    @property
    def fs_path(self) -> str:
        source = self.source
        assert isinstance(source, Filesystem)
        return source.path(self.schema_name or "", self.table_name or "")

    def extract(self) -> DataFrame:
        source = self.source
        if isinstance(source, Database):
            reader = (self.spark.read.format("jdbc")
                      .options(**source.options())
                      .option("dbtable", self.qualified_name)
                      .option("fetchsize", self.chunk_size))
            if self.partition_column and self.num_partitions:
                reader = (reader
                          .option("partitionColumn", self.partition_column)
                          .option("numPartitions", self.num_partitions)
                          .option("lowerBound", str(self.lower_bound))
                          .option("upperBound", str(self.upper_bound)))
            return reader.load()
        return self.spark.read.parquet(self.fs_path)

    def prepare(self) -> None:
        if not self.cleanup:
            return
        source = self.source
        if isinstance(source, Database):
            # truncate-vs-delete is the JDBC writer's `truncate` option at
            # overwrite time (reference models.py:454-459); nothing eager.
            return
        if os.path.isdir(self.fs_path):
            shutil.rmtree(self.fs_path)

    def load(self, df: DataFrame) -> int:
        df = self.attach_key_field(df)
        if self.connection_factory is not None:
            return self._load_with_error_budget(df)
        source = self.source
        if isinstance(source, Database):
            mode = "append" if self.append and not self.cleanup else "overwrite"
            writer = (df.write.format("jdbc")
                      .options(**source.options())
                      .option("dbtable", self.qualified_name)
                      .option("batchsize", self.chunk_size)
                      .option("truncate", bool(self.cleanup))
                      .mode(mode))
            text = f"INSERT INTO {self.qualified_name} (JDBC {mode})"
            try:
                writer.save()
            except Exception as exc:
                if self.audit is not None:
                    self.audit.query(text, "E", error=str(exc)[:2000])
                raise
            if self.audit is not None:
                self.audit.query(text, "D")
            return -1
        mode = "append" if self.append else "overwrite"
        df.write.mode(mode).parquet(self.fs_path)
        return -1

    _PLACEHOLDERS = {"qmark": "?", "format": "%s"}

    _LIMIT_SENTINEL = "pydin-error-limit"

    def _load_with_error_budget(self, df: DataFrame) -> int:
        """Chunked DB-API inserts with the reference's per-chunk error
        tolerance (``models.py:376-385``): each chunk is one try/except —
        a failed chunk rolls back, counts one error, and the load aborts
        once the pipeline's ``error_limit`` is reached.

        Runs as ``mapInPandas`` + aggregate (one SQL action) so every
        executor core holds its own connection — the distributed analogue
        of the reference's loader threads, and the only way to get
        sub-job error granularity that Spark's all-or-nothing JDBC writer
        cannot express. A SQL action (not ``foreachPartition``, which is
        an RDD action) is required so upstream ``df.observe`` metrics
        still resolve; it also returns exact per-chunk stats without
        accumulator retry double-counting. This is the compatibility slow
        path — the default JVM JDBC writer stays the fast path.
        """
        factory = self.connection_factory
        columns = df.columns
        chunk_size = self.chunk_size
        limit = self.pipeline.error_limit if self.pipeline else None
        try:
            placeholder = self._PLACEHOLDERS[self.paramstyle]
        except KeyError:
            raise ValueError(f"unsupported paramstyle {self.paramstyle!r}; "
                             f"known: {sorted(self._PLACEHOLDERS)}")
        insert_sql = (f"INSERT INTO {self.qualified_name} "
                      f"({', '.join(columns)}) VALUES "
                      f"({', '.join([placeholder] * len(columns))})")
        sentinel = self._LIMIT_SENTINEL
        if self.num_partitions:
            df = df.coalesce(self.num_partitions)

        def write_partition(batches):
            import pandas as pd  # noqa: PLC0415 - executor-side import

            def native(value):
                # Arrow hands back numpy/pandas scalars; DB-API drivers
                # want Python natives (sqlite3 rejects numpy.int64)
                if value is None or value != value:  # NaN/NaT
                    return None
                item = getattr(value, "item", None)
                if item is not None:
                    return item()
                to_py = getattr(value, "to_pydatetime", None)
                return to_py() if to_py is not None else value

            connection = factory()
            inserted = chunk_errors = record_errors = 0
            try:
                cursor = connection.cursor()

                def flush(batch):
                    nonlocal inserted, chunk_errors, record_errors
                    if not batch:
                        return
                    try:
                        cursor.executemany(insert_sql, batch)
                        connection.commit()
                        inserted += len(batch)
                    except Exception:
                        connection.rollback()
                        chunk_errors += 1
                        record_errors += len(batch)
                        # partition-local early abort; the driver maps the
                        # sentinel to ErrorLimitExceeded
                        if limit is not None and chunk_errors >= limit:
                            raise RuntimeError(sentinel)

                pending = []
                for frame in batches:
                    for row in frame.itertuples(index=False, name=None):
                        pending.append(tuple(native(v) for v in row))
                        if len(pending) >= chunk_size:
                            flush(pending)
                            pending = []
                flush(pending)
            finally:
                connection.close()
            yield pd.DataFrame({"inserted": [inserted],
                                "chunk_errors": [chunk_errors],
                                "record_errors": [record_errors]})

        from .pipeline import ErrorLimitExceeded
        stats = df.mapInPandas(
            write_partition,
            schema="inserted long, chunk_errors long, record_errors long")
        try:
            totals = stats.agg(
                F.sum("inserted").alias("inserted"),
                F.sum("chunk_errors").alias("chunk_errors"),
                F.sum("record_errors").alias("record_errors")).first()
        except Exception as exc:
            if sentinel in str(exc):
                if self.audit is not None:
                    self.audit.query(insert_sql, "E",
                                     error=f"error_limit={limit} reached")
                raise ErrorLimitExceeded(
                    f"failed chunks >= error_limit={limit} on "
                    f"{self.qualified_name}") from exc
            raise
        chunk_errors = int(totals["chunk_errors"] or 0)
        self.records_error = int(totals["record_errors"] or 0)
        inserted = int(totals["inserted"] or 0)
        if limit is not None and chunk_errors >= limit:
            if self.audit is not None:
                self.audit.query(insert_sql, "E", records=inserted,
                                 error=f"{chunk_errors} failed chunks")
            raise ErrorLimitExceeded(
                f"{chunk_errors} failed chunks >= error_limit={limit} "
                f"({self.records_error} records)")
        if self.audit is not None:
            self.audit.query(insert_sql, "D", records=inserted)
        return inserted

    def get_last_value(self, value_field: str):
        try:
            df = self.extract()
        except Exception:
            return None
        if value_field not in df.columns:
            return None
        row = df.agg(F.max(value_field).alias("wm")).first()
        return row["wm"] if row else None

    def _jdbc_execute_update(self, sql: str) -> int:
        """Driver-side DML on a Database source through the JVM's own JDBC
        stack (no Python driver needed — the jar Spark reads with serves)."""
        source = self.source
        assert isinstance(source, Database)
        jvm = self.spark._jvm
        if source.driver:
            jvm.java.lang.Class.forName(source.driver)
        props = jvm.java.util.Properties()
        for key, value in source.options().items():
            if key not in ("url", "driver"):
                props.setProperty(key, value)
        connection = jvm.java.sql.DriverManager.getConnection(
            source.url, props)
        try:
            statement = connection.createStatement()
            try:
                return statement.executeUpdate(sql)
            finally:
                statement.close()
        finally:
            connection.close()

    def recycle(self, key_field_label: str, key_value) -> None:
        source = self.source
        if isinstance(source, Database):
            # delete-by-run-key, reference models.py:469-475; the key
            # column was written quoted by Spark's JDBC writer, so quote
            # it here too (ANSI double quotes)
            if isinstance(key_value, (int, float)):
                literal = repr(key_value)
            else:
                literal = "'" + str(key_value).replace("'", "''") + "'"
            sql = (f'DELETE FROM {self.qualified_name} '
                   f'WHERE "{key_field_label}" = {literal}')
            deleted = self._jdbc_execute_update(sql)
            if self.audit is not None:
                self.audit.query(sql, "D", records=deleted)
            return
        _recycle_files(self.spark, self.fs_path, "parquet",
                       key_field_label, key_value)


class Select(Model, Extractable):
    """Arbitrary SQL SELECT with variable interpolation + injected filters.

    Reference ``Select`` (``models.py:755-936``): reads SQL text/file,
    interpolates ``{pipeline}/{calendar}/{job}/{vars}`` variables
    (``models.py:917-919``), injects date-window and watermark predicates
    by SQL-text surgery (``utils.py:372-388``), executes remotely, fetches
    in chunks.

    Spark mapping: ``spark.sql(text)`` against registered views (or a JDBC
    pushdown query on a Database source). Predicate injection is a
    DataFrame ``.where`` — sqlparse token surgery is unnecessary because
    Catalyst pushes the filter through the plan into the scan.
    """

    def __init__(self, source_name=None, text: str | None = None,
                 path: str | None = None, columns: list[str] | None = None,
                 alias: str | None = None, parallel: int | None = None,
                 partition_column: str | None = None,
                 lower_bound=None, upper_bound=None,
                 predicates: list[str] | None = None,
                 hint: str | None = None,
                 **kwargs):
        super().__init__(source_name=source_name, **kwargs)
        self.text = text
        self.file_path = path
        self.columns = columns
        self.alias = alias
        self.parallel = parallel
        #: optimizer-hint comment injected after the first SELECT of
        #: the query text — reference parity for the Oracle source
        #: hints (``/*+ parallel(n) */``, reference models.py:735-750,
        #: 1147-1168). On a Database source the hint ships inside the
        #: REMOTE query (the remote optimizer honors or ignores it);
        #: on a lakehouse read Spark SQL parses ``/*+ ... */`` hints
        #: natively (REPARTITION, BROADCAST, MERGE, ...). Validated
        #: against comment escape at construction.
        if hint is not None and ("*/" in hint or "/*" in hint):
            raise ValueError("hint must not contain comment delimiters")
        self.hint = hint
        #: JDBC read-parallelism spec. The reference maps ``parallel=n``
        #: to an Oracle ``/*+ parallel(n) */`` hint
        #: (reference models.py:921-936); Spark's equivalent is a
        #: partitioned read, which for a ``query`` source needs either
        #: a numeric/date ``partition_column`` (with optional explicit
        #: ``lower_bound``/``upper_bound`` — derived with a MIN/MAX probe
        #: when omitted) or explicit ``predicates`` (one WHERE clause per
        #: partition). With neither, ``parallel`` on a Database source is
        #: a single-connection read and extract() warns loudly.
        self.partition_column = partition_column
        self.lower_bound = lower_bound
        self.upper_bound = upper_bound
        self.predicates = predicates

    @property
    def query(self) -> str:
        text = self.text
        if text is None and self.file_path:
            with open(self.file_path) as f:
                text = f.read()
        if text is None:
            raise ValueError("Select needs `text` or `path`")
        return self._apply_hint(self._format(text))

    @staticmethod
    def _top_level_select_end(text: str) -> int:
        """Offset just past the statement's TOP-LEVEL ``SELECT``
        keyword, or -1 if there is none. A lexical scan, not a regex
        (ADVICE r9): string literals (incl. ``''`` doubling), quoted
        identifiers, ``--`` and ``/* */`` comments are skipped, and
        anything inside parentheses — a leading ``WITH x AS
        (SELECT ...)`` CTE body, subqueries — is depth > 0 and never
        matches, so the hint lands on the outer statement."""
        i, n, depth = 0, len(text), 0
        while i < n:
            c = text[i]
            if c == "'":
                i += 1
                while i < n:
                    if text[i] == "'":
                        if i + 1 < n and text[i + 1] == "'":
                            i += 2
                            continue
                        break
                    i += 1
                i += 1
            elif c == '"' or c == "`":
                q = c
                i += 1
                while i < n and text[i] != q:
                    i += 1
                i += 1
            elif text.startswith("--", i):
                j = text.find("\n", i)
                i = n if j < 0 else j + 1
            elif text.startswith("/*", i):
                j = text.find("*/", i + 2)
                i = n if j < 0 else j + 2
            elif c == "(":
                depth += 1
                i += 1
            elif c == ")":
                depth -= 1
                i += 1
            elif c.isalpha() or c == "_":
                j = i
                while j < n and (text[j].isalnum() or text[j] == "_"):
                    j += 1
                if depth == 0 and text[i:j].lower() == "select":
                    return j
                i = j
            else:
                i += 1
        return -1

    def _apply_hint(self, text: str) -> str:
        """Inject ``/*+ hint */`` after the statement's top-level
        SELECT — the reference's Oracle-hint rewrite generalized:
        remote databases receive it inside the pushed query, Spark SQL
        parses it as a native hint. CTE queries (``WITH ... SELECT``)
        get the hint on the OUTER select, and ``select`` appearing
        inside string literals or comments is never touched."""
        if not self.hint:
            return text
        pos = self._top_level_select_end(text)
        if pos < 0:
            raise ValueError(f"hint given but no top-level SELECT "
                             f"found in query text: {text[:80]!r}")
        return f"{text[:pos]} /*+ {self.hint} */{text[pos:]}"

    def _format(self, text: str) -> str:
        """Interpolate {calendar}/{pipeline}/{vars} variables."""
        class _Ns:
            def __init__(self, **kw):
                self.__dict__.update(kw)
        variables: dict = {}
        if self.pipeline is not None:
            calendar = self.pipeline.calendar
            variables["calendar"] = calendar
            variables["pipeline"] = self.pipeline
            variables["vars"] = _Ns(**getattr(self.pipeline, "data", {}))
        if self.date_field or True:
            variables.setdefault("date_from", self.date_from)
            variables.setdefault("date_to", self.date_to)
        try:
            return text.format(**variables)
        except (KeyError, IndexError, ValueError):
            # unknown placeholder or literal braces in the SQL — ship the
            # text as-is (best-effort interpolation, reference parity)
            return text

    def describe(self):
        """Discover the query's column schema without executing it.

        Parity with the reference's ``where 1 = 0`` probe
        (``models.py:874-883``): Spark SQL resolves the schema at
        analysis time (no job), and Spark's JDBC source issues the same
        zero-row probe internally for ``query`` reads.
        """
        source = self.source
        if isinstance(source, Database):
            return (self.spark.read.format("jdbc")
                    .options(**source.options())
                    .option("query", self.query).load().schema)
        return self.spark.sql(self.query).schema

    def _extract_jdbc(self, source: Database) -> DataFrame:
        """Partition-aware JDBC read for a SQL SELECT.

        Spark's ``query`` option is inherently single-partition (it
        rejects ``partitionColumn``), so a parallel read wraps the
        SELECT as a derived table ``(query) pydin_select`` and scans it
        via ``dbtable`` — the same stride-partitioned read ``Table``
        uses (parity: reference ``models.py:921-936``, where
        ``parallel=n`` becomes an Oracle ``/*+ parallel(n) */`` hint).
        Priority: explicit ``predicates`` (one WHERE clause = one
        partition = one connection) > ``partition_column`` with bounds
        (MIN/MAX-probed over the query when not given) > plain
        single-connection read, warning loudly if ``parallel`` was
        requested but could not be honored.
        """
        base = (self.spark.read.format("jdbc")
                .options(**source.options())
                .option("fetchsize", self.chunk_size))
        # no AS before the correlation name: Oracle rejects it, every
        # other dialect (Derby/Postgres/MySQL) accepts the bare form
        subquery = f"({self.query}) pydin_select"
        if self.predicates:
            opts = source.options(
                fetchsize=str(self.chunk_size))
            url = opts.pop("url")
            return self.spark.read.jdbc(
                url=url, table=subquery,
                predicates=list(self.predicates), properties=opts)
        if self.parallel and self.partition_column:
            lo, hi = self.lower_bound, self.upper_bound
            if lo is None or hi is None:
                # one-row MIN/MAX probe over the query itself — the
                # price of stride-partitioning without known bounds;
                # cheap on any indexed/partitioned source column
                # the aliases matter: unaliased aggregates get
                # driver-assigned positional labels (Derby: "1"/"2")
                # that Spark then re-requests as quoted columns
                row = (self.spark.read.format("jdbc")
                       .options(**source.options())
                       .option("query",
                               f"SELECT MIN({self.partition_column}) "
                               "AS pydin_lo, "
                               f"MAX({self.partition_column}) "
                               "AS pydin_hi "
                               f"FROM ({self.query}) pydin_bounds")
                       .load().collect()[0])
                lo = lo if lo is not None else row[0]
                hi = hi if hi is not None else row[1]
            if lo is not None and hi is not None:
                return (base.option("dbtable", subquery)
                        .option("partitionColumn", self.partition_column)
                        .option("numPartitions", self.parallel)
                        .option("lowerBound", str(lo))
                        .option("upperBound", str(hi))
                        .load())
        if self.parallel:
            warnings.warn(
                f"Select(parallel={self.parallel}) on a JDBC source "
                "reads over a SINGLE connection: a `query` read cannot "
                "be stride-partitioned without `partition_column` "
                "(+ optional bounds) or explicit `predicates`. "
                "Pass one of those to parallelize the read.",
                stacklevel=3)
        return base.option("query", self.query).load()

    def extract(self) -> DataFrame:
        source = self.source
        try:
            if isinstance(source, Database):
                df = self._extract_jdbc(source)
            else:
                df = self.spark.sql(self.query)
        except Exception as exc:
            if self.audit is not None:
                self.audit.query(self.query, "E", error=str(exc)[:2000])
            raise
        # DataFrames are lazy: no job has run yet, so success is NOT
        # recorded here — the pipeline records 'D'/'E' when the step's
        # action completes (Pipeline._run_step). Plan/analysis failures
        # were caught above.
        self._audit_pending = self.query
        self._audit_started = dt.datetime.now().isoformat(
            sep=" ", timespec="seconds")
        sink = self.pipeline.sink_for(self) if self.pipeline is not None else None
        df = self.apply_read_filters(df, sink=sink)
        if self.columns:
            df = df.select(*self.columns)
        if self.alias:
            df = df.alias(self.alias)
        if self.parallel and not isinstance(source, Database):
            # parity with Oracle /*+ parallel(n) */ (models.py:921-936):
            # here it is an explicit repartition hint, rarely needed — AQE
            # usually picks better.
            df = df.repartition(self.parallel)
        return df


class SQL(Model, Executable):
    """Execute arbitrary SQL (DDL/DML); rowcount result.

    Reference ``SQL`` (``models.py:649-752``) runs text remotely via
    SQLAlchemy. Here it is ``spark.sql(text)`` — Catalyst executes DDL
    eagerly and DML as a job; the returned count mirrors the reference's
    rowcount result.
    """

    def __init__(self, source_name=None, text: str | None = None,
                 path: str | None = None, parallel=None, **kwargs):
        super().__init__(source_name=source_name, **kwargs)
        self.text = text
        self.file_path = path

    @property
    def query(self) -> str:
        text = self.text
        if text is None and self.file_path:
            with open(self.file_path) as f:
                text = f.read()
        if text is None:
            raise ValueError("SQL needs `text` or `path`")
        return text

    def execute(self) -> int | None:
        try:
            result = self.spark.sql(self.query)
            count = result.count()
        except Exception as exc:
            if self.audit is not None:
                self.audit.query(self.query, "E", error=str(exc)[:2000])
            raise
        if self.audit is not None:
            self.audit.query(self.query, "D", records=count)
        return count


class Command(Model, Executable):
    """Execute a shell command on a server — local host or remote over
    the SSH channel of an ``ssh``/``sftp`` source (reference
    ``conn.execute`` via ``ssh.exec_command``, ``pydin/sources.py:79-81``;
    the hook pydin users drive remote cleanup/trigger scripts with).

    ``source_name=None`` runs on the driver host; a registered
    ``Server`` with protocol ``ssh``/``sftp`` runs remotely over the
    same connection FileManager uses (``Server.transport`` doubles are
    honored, so the remote matrix is testable without a live host).
    The command text and its exit status land in the query log
    (``records`` column = exit status, stderr tail as the error text);
    a non-zero exit raises unless ``check=False``.
    """

    def __init__(self, source_name=None, text: str | None = None,
                 check: bool = True, timeout: float | None = None,
                 **kwargs):
        super().__init__(source_name=source_name, **kwargs)
        self.text = text
        self.check = check
        self.timeout = timeout
        self.stdout: str | None = None
        self.stderr: str | None = None

    def execute(self) -> int | None:
        from .sources import Filesystem as _Fs
        from .transports import transport_for
        if not self.text:
            raise ValueError("Command needs `text`")
        source = None if isinstance(self.source, _Fs) else self.source
        transport = transport_for(source)
        try:
            status, out, err = transport.execute(self.text,
                                                 timeout=self.timeout)
        except Exception as exc:
            if self.audit is not None:
                self.audit.query(self.text, "E", error=str(exc)[:2000])
            raise
        finally:
            if source is not None:
                transport.close()
        self.stdout, self.stderr = out, err
        if self.audit is not None:
            self.audit.query(self.text, "D" if status == 0 else "E",
                             records=status,
                             error=err[:2000] if status != 0 else None)
        if status != 0 and self.check:
            raise RuntimeError(
                f"command exited {status}: {self.text!r}\n{err[:500]}")
        return status


class Insert(Model, Executable):
    """Set-based ``INSERT INTO target SELECT ...`` — ELT with no data
    movement through the driver.

    Reference ``Insert`` (``models.py:939-1188``): assembles the statement
    with injected date-window/watermark predicates and runs it wholly in
    the source database. Spark mapping: run the SELECT through
    ``spark.sql`` with the same injected ``.where`` filters and write to
    the target table — Catalyst plans everything set-based; rows never hit
    Python.
    """

    def __init__(self, source_name=None, schema_name=None, table_name=None,
                 select: str | None = None, path: str | None = None,
                 append: bool = True, parallel=None, **kwargs):
        super().__init__(source_name=source_name, **kwargs)
        self.schema_name = schema_name
        self.table_name = table_name
        self.select_text = select
        self.file_path = path
        self.append = append

    def target_table(self) -> Table:
        table = Table(source_name=self.source_name,
                      schema_name=self.schema_name,
                      table_name=self.table_name, append=self.append,
                      cleanup=self.cleanup, key_field=self.key_field,
                      insert_key_field=self.insert_key_field)
        table.pipeline = self.pipeline
        return table

    def execute(self) -> int | None:
        select = Select(source_name=self.source_name, text=self.select_text,
                        path=self.file_path, date_field=self.date_field,
                        days_back=self.days_back, hours_back=self.hours_back,
                        months_back=self.months_back, timezone=self.timezone,
                        value_field=self.value_field,
                        target_value=self.target_value)
        select.pipeline = self.pipeline
        target = self.target_table()
        df = select.extract()
        if self.value_field and self.target_value is None:
            last = target.get_last_value(self.value_field)
            predicate = select.watermark_predicate(last)
            if predicate is not None:
                df = df.where(predicate)
        # rowcount via Observation inside the write job — a separate
        # count() would scan the source twice
        from pyspark.sql import Observation
        observation = Observation(f"insert-{id(self)}")
        df = df.observe(observation, F.count(F.lit(1)).alias("rows"))
        target.prepare()
        target.load(df)
        return int(observation.get["rows"])


class Mapper(Model, Transformable):
    """Arbitrary record transform (reference ``models.py:425-437``,
    README's canonical rename/cast example).

    Compilation strategy (fast path first):

    1. ``func=None`` + declarative args → pure ``Column`` ops
       (``rename=``, ``cast=``, ``drop=``, ``with_columns=``) — stays in
       whole-stage codegen, the 100 TB path.
    2. ``func`` given → Arrow-batched ``mapInPandas``. The output schema
       is taken from ``schema=`` or inferred by applying ``func`` to a
       small driver-side sample (mirrors the reference's runtime schema
       discovery, SURVEY §1.2). Keys must be stable across records —
       fixed schema per run.
    """

    def __init__(self, func=None, schema=None, rename: dict | None = None,
                 cast: dict | None = None, drop: list | None = None,
                 with_columns: dict | None = None, sample_size: int = 10,
                 **kwargs):
        super().__init__(**kwargs)
        self.func = func
        self.schema = schema
        self.rename = rename or {}
        self.cast = cast or {}
        self.drop = drop or []
        self.with_columns = with_columns or {}
        self.sample_size = sample_size

    def transform(self, df: DataFrame) -> DataFrame:
        if self.func is None:
            if self.rename:
                df = df.withColumnsRenamed(self.rename)
            for column, dtype in self.cast.items():
                df = df.withColumn(column, F.col(column).cast(dtype))
            for column, expr in self.with_columns.items():
                df = df.withColumn(
                    column, expr if isinstance(expr, Column) else F.expr(expr))
            if self.drop:
                df = df.drop(*self.drop)
            return df
        return self._apply_func(df)

    def _apply_func(self, df: DataFrame) -> DataFrame:
        func = self.func
        schema = self.schema or self._infer_schema(df)

        def _map_batches(batches):
            import pandas as pd
            for pdf in batches:
                records = [func(dict(r)) for r in pdf.to_dict("records")]
                yield pd.DataFrame.from_records(
                    records, columns=[f.name for f in schema.fields])

        return df.mapInPandas(_map_batches, schema=schema)

    def _infer_schema(self, df: DataFrame):
        sample = [row.asDict() for row in df.take(self.sample_size)]
        if not sample:
            return df.schema
        transformed = [self.func(dict(r)) for r in sample]
        probe = self.spark.createDataFrame(transformed)
        return probe.schema


#: operators reachable from declarative config by name — the curation /
#: dedup / text kit exposed as pipeline transform nodes. Values are
#: "module.function" under pydin_spark.operators, resolved lazily so a
#: config row never imports more than it uses.
TRANSFORM_OPERATORS = {
    "token_stats": "text.token_stats",
    "quality_score": "text.quality_score",
    "gopher_quality_filter": "text.gopher_quality_filter",
    "language_id": "text.language_id",
    "language_id_ngram": "text.language_id_ngram",
    "repetition_stats": "text.repetition_stats",
    "fingerprint": "text.fingerprint",
    "tfidf_top_terms": "text.tfidf_top_terms",
    "duplicate_spans": "text.duplicate_spans",
    "remove_duplicate_spans": "text.remove_duplicate_spans",
    "bigram_logprob": "text.bigram_logprob",
    "winnow_fingerprints": "text.winnow_fingerprints",
    "redact_pii": "redact.redact_pii",
    "exact_dedup": "dedup.exact_dedup",
    "drop_near_dups": "dedup.drop_near_dups",
    "dup_clusters": "dedup.dup_clusters",
    "sample_stratified": "curation.sample_stratified",
    "hash_split": "curation.hash_split",
    "mixture_sample": "curation.mixture_sample",
    "oov_rate": "curation.oov_rate",
    "pack_sequences": "curation.pack_sequences",
    "curate_corpus": "curation.curate_corpus",
    "with_unit_norm": "similarity.with_unit_norm",
    "quantize_int8": "similarity.quantize_int8",
    "winnow_matches": "text.winnow_matches",
    "ngram_jaccard_pairs": "dedup.ngram_jaccard_pairs",
    "cluster_stats": "dedup.cluster_stats",
    "decontaminate": "curation.decontaminate",
    "vocab_counts": "curation.vocab_counts",
    "rollup_aggregate": "rollup.rollup_aggregate",
    "theta_slice_sketches": "rollup.theta_slice_sketches",
    "theta_overlap": "rollup.theta_overlap",
    "leakage_safe_split": "curation.leakage_safe_split",
    "span_provenance": "text.span_provenance",
    "sample_to_token_budget": "curation.sample_to_token_budget",
    "chunk_text": "text.chunk_text",
    "importance_weights": "curation.importance_weights",
    "importance_resample": "curation.importance_resample",
    "semantic_dedup": "similarity.semantic_dedup",
    "heavy_hitters": "rollup.heavy_hitters",
    "corpus_report": "curation.corpus_report",
    "bpe_tokenize": "text.bpe_tokenize",
    "knn_graph": "similarity.knn_graph",
    "ivf_knn_graph": "similarity.ivf_knn_graph",
    "mutual_knn_pairs": "similarity.mutual_knn_pairs",
    "semantic_cluster_dedup": "similarity.semantic_cluster_dedup",
    "funnel": "relational.funnel",
    "retention_cohorts": "relational.retention_cohorts",
    "event_paths": "relational.event_paths",
    "fill_gaps_locf": "relational.fill_gaps_locf",
    "temperature_mixture": "curation.temperature_mixture",
    "keep_top_fraction": "curation.keep_top_fraction",
    "sample_exact_k": "curation.sample_exact_k",
    "bloom_build": "rollup.bloom_build",
    "bloom_merge": "rollup.bloom_merge",
    "decontaminate_bloom": "curation.decontaminate_bloom",
    "profile": "curation.profile",
    "line_dedup": "text.line_dedup",
    "apply_linear_scorer": "curation.apply_linear_scorer",
    "normalize_text": "text.normalize_text",
}


class Transform(Model, Transformable):
    """Named-operator transform node: the corpus-operator kit as a
    declarative pipeline step, so config-driven (JSON / pd_node_config)
    jobs can schedule curation stages the same way they schedule ETL —
    e.g. ``{"node_type": "Transform", "operator":
    "gopher_quality_filter"}`` or ``{"node_type": "Transform",
    "operator": "drop_near_dups", "options": {"threshold": 0.8}}``.

    Everything stays JSON-serializable: the operator is referenced by
    registry name (``TRANSFORM_OPERATORS``), keyword options are plain
    values. Arbitrary callables stay the job of :class:`Mapper`.
    """

    def __init__(self, operator: str, options: dict | None = None,
                 **kwargs):
        super().__init__(**kwargs)
        if operator not in TRANSFORM_OPERATORS:
            raise ValueError(
                f"unknown operator {operator!r}; known: "
                f"{sorted(TRANSFORM_OPERATORS)}")
        self.operator = operator
        self.options = dict(options or {})

    def _resolve(self):
        import importlib
        mod_name, fn_name = TRANSFORM_OPERATORS[self.operator].split(".")
        mod = importlib.import_module(f"pydin_spark.operators.{mod_name}")
        return getattr(mod, fn_name)

    def transform(self, df: DataFrame) -> DataFrame:
        return self._resolve()(df, **self.options)


class TransformChain(Model, Transformable):
    """Composition of consecutive transform nodes into one step-level
    transformer — built by the pipeline walker when a graph chains
    ``Mapper``/:class:`Transform` nodes back-to-back (the reference
    binds arbitrary node sequences; Spark composes them lazily, so a
    chain is still a single Catalyst plan, not N materializations)."""

    def __init__(self, models, **kwargs):
        super().__init__(**kwargs)
        self.models = list(models)
        self.model_name = "+".join(m.model_name for m in self.models)

    def transform(self, df: DataFrame) -> DataFrame:
        for model in self.models:
            df = model.transform(df)
        return df


# ---------------------------------------------------------------------------
# filesystem metadata models
# ---------------------------------------------------------------------------

class Filenames(Model, Extractable):
    """Emit file-metadata records from a directory walk.

    Reference ``Filenames`` (``models.py:1654-1661`` over ``Files.walk``
    ``models.py:1559-1615``): rows of (server, path, dir, file, isdir,
    isfile, mtime, size), filtered by regex mask + mtime window
    (``models.py:1539-1557``).

    On a local/HDFS path the distributed option is
    ``spark.read.format('binaryFile')`` with ``pathGlobFilter`` /
    ``modifiedAfter`` — used when ``distributed=True``; default is a
    driver-side walk (cheap: metadata only) into a DataFrame.
    """

    def __init__(self, server_name: str | None = None, path: str = ".",
                 mask: str | None = None, recursive: bool = True,
                 created=None, date_from=None, date_to=None,
                 distributed: bool = False, **kwargs):
        kwargs.setdefault("source_name", server_name)
        super().__init__(**kwargs)
        self.walk_path = path
        self.mask = mask
        self.recursive = recursive
        self.created = created
        self._date_from = date_from
        self._date_to = date_to
        self.distributed = distributed

    def _window(self):
        if self.created is not None:
            day = Day(self.created) if isinstance(self.created, dt.datetime) \
                else self.created
            return day.start, day.end
        return self._date_from, self._date_to

    def extract(self) -> DataFrame:
        if self.distributed:
            return self._extract_binaryfile()
        rows = []
        host = self.source_name or "localhost"
        pattern = re.compile(self.mask) if self.mask else None
        lo, hi = self._window()
        for dirpath, dirnames, filenames in os.walk(self.walk_path):
            if not self.recursive:
                dirnames.clear()
            for name in filenames:
                if pattern and not pattern.search(name):
                    continue
                full = os.path.join(dirpath, name)
                stat = os.stat(full)
                mtime = dt.datetime.fromtimestamp(stat.st_mtime)
                if lo is not None and mtime < lo:
                    continue
                if hi is not None and mtime > hi:
                    continue
                rows.append((host, full, dirpath, name, False, True,
                             mtime, stat.st_size))
        schema = ("server string, path string, dir string, file string, "
                  "isdir boolean, isfile boolean, mtime timestamp, "
                  "size bigint")
        return self.spark.createDataFrame(rows, schema=schema)

    def _extract_binaryfile(self) -> DataFrame:
        # NOTE: mask is a regex (matching the driver-side walk); it is
        # applied post-listing with rlike rather than as pathGlobFilter,
        # which is a glob with different syntax
        reader = self.spark.read.format("binaryFile")
        lo, hi = self._window()
        if lo is not None:
            reader = reader.option("modifiedAfter", lo.strftime("%Y-%m-%dT%H:%M:%S"))
        if hi is not None:
            reader = reader.option("modifiedBefore", hi.strftime("%Y-%m-%dT%H:%M:%S"))
        host = self.source_name or "localhost"
        df = reader.load(self.walk_path)
        out = df.select(
            F.lit(host).alias("server"),
            F.col("path"),
            F.regexp_replace("path", r"/[^/]+$", "").alias("dir"),
            F.element_at(F.split("path", "/"), -1).alias("file"),
            F.lit(False).alias("isdir"), F.lit(True).alias("isfile"),
            F.col("modificationTime").alias("mtime"),
            F.col("length").alias("size"))
        if self.mask:
            out = out.where(F.col("file").rlike(self.mask))
        return out


class FileManager(Model, Executable):
    """Copy/move/delete files across local/SFTP/FTP endpoints with
    optional gzip and temp-name atomic rename.

    Reference ``FileManager`` (``models.py:1664-2392``) covers a 12-way
    localhost/SSH/SFTP/FTP source×target matrix with one method per
    combination. Here both endpoints are :mod:`pydin_spark.transports`
    objects and every combination shares ONE streamed copy path —
    ``server_name`` resolves the source endpoint and ``target_name`` the
    target endpoint (reference ``target_name`` property,
    ``models.py:1684-1696``); either may be localhost, an SFTP/FTP
    ``Server`` from the registry, or an injected transport double.
    Temp-name parity: writes land at ``<name>.tmp`` then rename
    (reference ``tempname`` handling).
    """

    def __init__(self, server_name=None, path: str = ".", mask: str = r".*",
                 target_name=None, action: str = "copy",
                 destination: str | list | None = None,
                 recursive: bool = False, nodirectory: bool = False,
                 created=None, zip: bool = False, unzip: bool = False,
                 tempname: bool = True, transport=None,
                 target_transport=None, **kwargs):
        kwargs.setdefault("source_name", server_name)
        super().__init__(**kwargs)
        self.walk_path = path
        self.mask = mask
        self.target_name = target_name
        self.action = action
        self.destinations = ([destination] if isinstance(destination, str)
                             else list(destination or []))
        self.recursive = recursive
        self.nodirectory = nodirectory
        self.created = created
        self.zip = zip
        self.unzip = unzip
        self.tempname = tempname
        self._transport = transport
        self._target_transport = target_transport

    @property
    def source_transport(self):
        from .transports import transport_for
        if self._transport is None:
            source = self.source if self.source_name else None
            self._transport = transport_for(
                None if isinstance(source, Filesystem) else source)
        return self._transport

    @property
    def target_transport(self):
        from .transports import transport_for
        if self._target_transport is None:
            if self.target_name and self.target_name != "localhost":
                target = self.registry.resolve(self.target_name)
                self._target_transport = transport_for(
                    None if isinstance(target, Filesystem) else target)
            else:
                self._target_transport = transport_for(None)
        return self._target_transport

    def _matches(self) -> list[tuple[str, int]]:
        pattern = re.compile(self.mask)
        lo = hi = None
        if self.created is not None:
            day = Day(self.created) if isinstance(self.created, dt.datetime) \
                else self.created
            lo, hi = day.start, day.end
        out = []
        for full, mtime, size in self.source_transport.walk(
                self.walk_path, self.recursive):
            if not pattern.search(self.source_transport.basename(full)):
                continue
            if lo is not None and not (lo <= mtime <= hi):
                continue
            out.append((full, size))
        return sorted(out)

    def _transfer(self, src: str, dst_dir: str) -> str:
        src_t, tgt_t = self.source_transport, self.target_transport
        tgt_t.makedirs(dst_dir)
        name = src_t.basename(src)
        if self.zip and not name.endswith(".gz"):
            name += ".gz"
        if self.unzip and name.endswith(".gz"):
            name = name[: -len(".gz")]
        final = tgt_t.join(dst_dir, name)
        work = final + ".tmp" if self.tempname else final
        with src_t.open_read(src) as fin, tgt_t.open_write(work) as fout:
            if self.zip:
                # mtime=0 pins the gzip header → byte-deterministic output
                with _gzip.GzipFile(fileobj=fout, mode="wb", mtime=0) as gz:
                    shutil.copyfileobj(fin, gz)
            elif self.unzip:
                with _gzip.GzipFile(fileobj=fin, mode="rb") as gz:
                    shutil.copyfileobj(gz, fout)
            else:
                shutil.copyfileobj(fin, fout)
        if self.tempname:
            tgt_t.rename(work, final)
        return final

    def execute(self) -> int:
        if self.action in ("copy", "move") and not self.destinations:
            raise ValueError(
                f"FileManager action={self.action!r} requires a "
                "destination — without one, 'move' would delete the "
                "source files with no copy made")
        moved = 0
        host = self.source_name or "localhost"
        for src, n_bytes in self._matches():
            if self.action in ("copy", "move"):
                for dst in self.destinations:
                    self._transfer(src, dst)
                if self.action == "move":
                    self.source_transport.remove(src)
            elif self.action == "delete":
                self.source_transport.remove(src)
            else:
                raise ValueError(f"unknown action {self.action!r}")
            if self.audit is not None:
                self.audit.file(host, src, self.action, "D", n_bytes)
            moved += 1
        return moved
