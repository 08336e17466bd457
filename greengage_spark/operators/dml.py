"""DML over immutable parquet: INSERT / UPDATE / DELETE as copy-on-write.

Reference semantics being reproduced:

* ModifyTable (src/backend/executor/nodeModifyTable.c, ORCA path
  nodeDML.c) — INSERT appends, UPDATE/DELETE mutate in place under MVCC.
* SplitUpdate (src/backend/executor/nodeSplitUpdate.c:26) — an UPDATE
  that changes the distribution key is split into DELETE + INSERT streams
  so the row can move to its new owning segment.

Spark/parquet has no in-place mutation, so a table version is a
**manifest**: a JSON file listing the parquet data files that make up
that version (the Delta-Lake / Iceberg strategy).  The three properties
that make this survive 100 TB:

* **INSERT is a pure append** — new rows land in a fresh segment
  directory and the next manifest references old files + new files.  A
  1-row INSERT writes 1 small file, never rewrites the table.
* **UPDATE/DELETE rewrite only touched files.**  One finder scan
  filters the table by the statement's condition and collects the
  distinct ``_metadata.file_path`` of the matching rows; only those files
  are re-read and rewritten.  A plain predicate reaches the parquet scan
  as a pushed filter (row groups whose statistics exclude it are
  skipped), but every file is still opened: file-level pruning would
  need per-file statistics in the manifest, which it does not keep.
  Untouched files are carried into the new manifest **by reference,
  byte-identical** — an UPDATE keyed to one partition leaves every
  other partition's files untouched on disk (asserted by
  tests/test_dml.py mtime/identity checks).
* **SplitUpdate needs no special operator**: rewritten rows pass through
  ``repartition(dist_keys)`` on the segment write, re-homing moved rows
  in the same job — delete-stream and insert-stream collapse into one
  exchange.

Driver-side state is file *names* only (the same metadata scale Delta's
transaction log carries), never row data.  Old versions are retained
(time travel / vacuum left to the storage layer).
"""

from __future__ import annotations

import json
import os
import re
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _norm_file(p: str) -> str:
    """``_metadata.file_path`` URI → plain absolute path."""
    if p.startswith("file:"):
        p = urlparse(p).path
    return unquote(p)


class SerializationError(Exception):
    """Concurrent-update commit conflict — the analog of PG's
    ERRCODE_T_R_SERIALIZATION_FAILURE (40001, 'could not serialize
    access due to concurrent update')."""


class WritableTable:
    """A versioned copy-on-write parquet table (ModifyTable target)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        dist_keys: tuple[str, ...] = (),
        num_partitions: int | None = None,
    ):
        self.spark = spark
        self.root = root
        self.dist_keys = dist_keys
        self.num_partitions = num_partitions
        # the table name: DML frames are aliased to it
        self.name = os.path.basename(root.rstrip("/"))
        self.version = self._latest_version()

    # ---------------- storage plumbing ----------------

    def _latest_version(self) -> int:
        if not os.path.isdir(self.root):
            return -1
        vs = [
            int(f[1:-5])
            for f in os.listdir(self.root)
            if f.startswith("v") and f.endswith(".json") and f[1:-5].isdigit()
        ]
        return max(vs, default=-1)

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, f"v{version}.json")

    def _manifest(self) -> dict:
        assert self.version >= 0, f"no table at {self.root}"
        with open(self._manifest_path(self.version)) as fh:
            return json.load(fh)

    def files(self) -> list[str]:
        return self._manifest()["files"]

    def _schema(self) -> StructType:
        return StructType.fromJson(json.loads(self._manifest()["schema"]))

    def _write_segment(self, df: DataFrame) -> list[str]:
        """Write rows as a new immutable segment directory, applying the
        distribution policy (hash on dist keys ≈ the reference's
        per-segment placement), and return its data-file paths."""
        if self.dist_keys:
            n = self.num_partitions or self.spark.sparkContext.defaultParallelism
            df = df.repartition(n, *[F.col(c) for c in self.dist_keys])
        # unique per ATTEMPT, not per version: two sessions racing to
        # version n+1 must never share a directory — the commit CAS picks
        # the winner, but a shared path would let the loser clobber the
        # winner's data files before its commit even fails
        import uuid

        seg = os.path.join(
            self.root, f"seg-{self.version + 1}-{uuid.uuid4().hex[:8]}"
        )
        df.write.mode("overwrite").parquet(seg)
        return sorted(
            os.path.join(seg, f)
            for f in os.listdir(seg)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )

    def _commit(
        self,
        files: list[str],
        schema: StructType,
        *,
        reset: bool = False,
        evolutions: list[dict] | None = None,
        extra: dict | None = None,
    ) -> None:
        """Write the next manifest version.  ``base_schema``/``evolutions``
        (the ALTER TABLE schema-evolution log, see ``evolve``) carry
        forward from the current manifest unless ``reset`` — a full-table
        rewrite stores every row under the current schema, so the log
        restarts empty.  ``extra`` keys ride the manifest atomically with
        the commit (streaming sinks store their last batch id here)."""
        os.makedirs(self.root, exist_ok=True)
        manifest = {"files": files, "schema": schema.json()}
        if extra:
            manifest.update(extra)
        if reset or self.version < 0:
            manifest["base_schema"] = schema.json()
            manifest["evolutions"] = evolutions or []
        else:
            prev = self._manifest()
            manifest["base_schema"] = prev.get("base_schema", prev["schema"])
            manifest["evolutions"] = (
                evolutions
                if evolutions is not None
                else prev.get("evolutions", [])
            )
        tmp = self._manifest_path(self.version + 1) + f".tmp.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        target = self._manifest_path(self.version + 1)
        try:
            # compare-and-swap: link(2) fails atomically when the target
            # version already exists — a concurrent session committed a
            # manifest this write never saw.  PG reports the same race as
            # ERRCODE_T_R_SERIALIZATION_FAILURE (40001); os.replace would
            # silently clobber the other session's commit (lost update).
            os.link(tmp, target)
        except FileExistsError:
            os.unlink(tmp)
            raise SerializationError(
                f"could not serialize access due to concurrent update: "
                f"{target} was committed by another session (this write "
                f"is based on version {self.version})"
            ) from None
        os.unlink(tmp)
        self.version += 1

    # ---------------- schema evolution (ALTER TABLE) ----------------

    @staticmethod
    def _seg_of(path: str) -> int:
        m = re.search(r"/seg-(\d+)[^/]*/", path)
        return int(m.group(1)) if m else 0

    def evolve(self, op: dict, new_schema: StructType) -> "WritableTable":
        """Metadata-only ALTER TABLE commit (tablecmds.c ATExecCmd family):
        no data file is read or written.  ``op`` records how rows in files
        written BEFORE this version map to the new schema; ``_read_files``
        replays the log per file era.  Ops:

        * ``{"op": "add", "name", "type", "value"}`` — pre-evaluated
          DEFAULT literal (PG attmissingval: computed once at ALTER time),
          ``None`` for NULL backfill.
        * ``{"op": "drop", "name"}`` — physical column pruned at read.
        * ``{"op": "rename", "from", "to"}``.
        * ``{"op": "retype", "name", "type", "using"}`` — optional USING
          expression (Spark SQL) applied before the cast.
        """
        man = self._manifest()
        entry = dict(op, ver=self.version + 1, schema=new_schema.json())
        self._commit(
            self.files(),
            new_schema,
            evolutions=man.get("evolutions", []) + [entry],
        )
        return self

    def truncate(self) -> "WritableTable":
        """TRUNCATE (tablecmds.c ExecuteTruncate): next manifest has no
        data files; old versions keep theirs (O(1), no data touched)."""
        self._commit([], self._schema(), reset=True)
        return self

    def restore(self, version: int) -> "WritableTable":
        """Commit a new version whose content is a verbatim copy of an
        older version's manifest — the COW rollback primitive (data files
        are immutable and never deleted, so every old version remains
        reachable).  O(1): one manifest write, zero data I/O."""
        if version == self.version:
            return self
        with open(self._manifest_path(version)) as fh:
            man = json.load(fh)
        tmp = self._manifest_path(self.version + 1) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(man, fh)
        os.replace(tmp, self._manifest_path(self.version + 1))
        self.version += 1
        return self

    @staticmethod
    def _apply_evolution(df: DataFrame, e: dict) -> DataFrame:
        op = e["op"]
        if op == "add":
            v = e.get("value")
            col = (
                F.lit(v).cast(e["type"]) if v is not None
                else F.lit(None).cast(e["type"])
            )
            return df.withColumn(e["name"], col)
        if op == "drop":
            return df.drop(e["name"])
        if op == "rename":
            return df.withColumnRenamed(e["from"], e["to"])
        if op == "retype":
            src = F.expr(e["using"]) if e.get("using") else F.col(e["name"])
            return df.withColumn(e["name"], src.cast(e["type"]))
        raise ValueError(f"unknown evolution op {op!r}")

    def _read_files(
        self, files: list[str], file_col: str | None = None
    ) -> DataFrame:
        """The rows of ``files`` under the current schema, aliased to the
        table name so SQL-text conditions may qualify its columns and
        correlate subqueries with it.  ``file_col`` names an extra column
        holding each row's ``_metadata.file_path`` (the finder's)."""
        if not files:
            return self.spark.createDataFrame([], self._schema()).alias(self.name)
        man = self._manifest()
        evs = man.get("evolutions", [])
        cur = StructType.fromJson(json.loads(man["schema"]))
        # Files written before an ALTER lack its schema change physically.
        # A file in seg-K was committed as version K, so evolutions with
        # ver < K were already in effect when it was written.  Group files
        # by era (how many log entries they predate), read each group with
        # its era's physical schema, replay the remaining log, and union —
        # group count is bounded by the number of ALTERs, not files.  The
        # file column is taken per era, while each scan is still a plain
        # file source.
        eras = [man.get("base_schema", man["schema"]) if evs else man["schema"]]
        eras += [e["schema"] for e in evs]
        groups: dict[int, list[str]] = {}
        for f in files:
            k = self._seg_of(f)
            groups.setdefault(sum(1 for e in evs if e["ver"] < k), []).append(f)
        cols = [f.name for f in cur.fields] + ([file_col] if file_col else [])
        parts = []
        for era, fs in sorted(groups.items()):
            df = self.spark.read.schema(
                StructType.fromJson(json.loads(eras[era]))
            ).parquet(*fs)
            if file_col:
                df = df.select("*", F.col("_metadata.file_path").alias(file_col))
            for e in evs[era:]:
                df = self._apply_evolution(df, e)
            parts.append(df.select(cols) if evs else df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.alias(self.name)

    def _touched_files(self, cond: Column) -> list[str]:
        """The finder: the data files holding rows matching ``cond``.  The
        filter sits directly on the scan, so a plain predicate is pushed
        into it; NULL ``cond`` rows do not match.  Only file names are
        collected."""
        files = self.files()
        if not files:
            return []
        hits = (
            self._read_files(files, "__cow_file")
            .filter(cond)
            .select("__cow_file")
            .distinct()
            .collect()
        )
        touched = {_norm_file(r[0]) for r in hits}
        return [f for f in files if f in touched]

    def _coerce(self, df: DataFrame) -> DataFrame:
        """Cast to the declared column types: every segment must be
        read-compatible with the table schema.  A frame already in those
        types passes through (each projection costs an analysis pass)."""
        fields = self._schema().fields
        if [(f.name, f.dataType) for f in df.schema.fields] == [
            (f.name, f.dataType) for f in fields
        ]:
            return df
        return df.select(*[F.col(f.name).cast(f.dataType) for f in fields])

    def _assign(self, df: DataFrame, set_map: dict[str, Column], cond: Column) -> DataFrame:
        """UPDATE's projection: SET values where ``cond`` holds, cast back
        to the declared type — CASE/arithmetic may widen (decimal(10,2) *
        1.1 → decimal(13,3)), and RETURNING reports what is stored."""
        types = {f.name: f.dataType for f in self._schema().fields}
        return df.select(
            *[
                F.when(cond, set_map[f]).otherwise(F.col(f)).cast(types[f]).alias(f)
                if f in set_map
                else F.col(f)
                for f in types
            ]
        )

    # ---------------- DML surface ----------------

    def create(self, df: DataFrame, *, extra: dict | None = None) -> "WritableTable":
        """CREATE TABLE AS — version 0."""
        assert self.version == -1, f"table already exists at {self.root}"
        self._commit(self._write_segment(df), df.schema, extra=extra)
        return self

    def df(self) -> DataFrame:
        return self._read_files(self.files())

    def insert(self, rows: DataFrame) -> "WritableTable":
        """INSERT INTO — append a new segment; existing files are
        referenced unchanged (nodeModifyTable.c ExecInsert)."""
        return self.rewrite_files([], rows)

    def delete(self, cond: Column) -> "WritableTable":
        """DELETE WHERE cond — rewrite only files holding matching rows,
        keeping each one's complement.  NULL cond rows are kept (PG:
        WHERE NULL does not delete)."""
        touched = self._touched_files(cond)
        if not touched:
            return self.rewrite_files([], None)
        keep = self._read_files(touched).filter(~F.coalesce(cond, F.lit(False)))
        return self.rewrite_files(touched, keep)

    def replace(self, df: DataFrame) -> "WritableTable":
        """Full-table rewrite (every row restored under the current
        schema, so the schema-evolution log resets)."""
        self._commit(self._write_segment(df), df.schema, reset=True)
        return self

    def rewrite_files(
        self,
        touched: list[str],
        new_rows: DataFrame | None,
        *,
        extra: dict | None = None,
    ) -> "WritableTable":
        """The copy-on-write commit every write ends in: the files in
        ``touched`` are replaced by ``new_rows`` (coerced to the table
        schema and written as a new segment); every other file carries
        into the new manifest by reference, byte-identical.  ``extra``
        rides the manifest (see ``_commit``)."""
        touched_set = set(touched)
        kept = [f for f in self.files() if f not in touched_set]
        new = [] if new_rows is None else self._write_segment(self._coerce(new_rows))
        self._commit(kept + new, self._schema(), extra=extra)
        return self

    def update(self, set_map: dict[str, Column], cond: Column | None = None) -> "WritableTable":
        """UPDATE SET ... WHERE cond — CASE-WHEN projection over only the
        files holding matching rows; all other files carry over by
        reference.

        If a distribution key is in ``set_map`` this is the SplitUpdate
        case (nodeSplitUpdate.c): the repartition inside
        ``_write_segment`` re-homes changed rows — no separate
        delete+insert streams needed.
        """
        if cond is None:
            touched, cond = self.files(), F.lit(True)
        else:
            touched = self._touched_files(cond)
        if not touched:
            return self.rewrite_files([], None)
        new = self._assign(self._read_files(touched), set_map, cond)
        return self.rewrite_files(touched, new)
