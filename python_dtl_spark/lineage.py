"""Row-level provenance ("trace mode") — the reference's differentiator.

The reference devotes roughly a third of its codebase to explainability
(/root/reference/src/dtl/mappings.py, manifest.py, the Tracer in
io.py:75-122): alongside outputs it records a snapshot of every
intermediate table plus *mappings* relating each row of each snapshot to
the rows of every other snapshot.

Spark-first re-expression (SURVEY.md §2.7):

* every finalized statement table gets a hidden ``__dtl_r*`` row-id
  column (``monotonically_increasing_id`` — distributed, no shuffle);
* the table is **materialized once** through the tracer before any
  mapping is derived from it, so all actions observe identical ids
  (the reference materializes every array too, eval.py:534-543 — here
  it's a distributed parquet write, not driver memory);
* a mapping is a ``(src_rid, tgt_rid)`` pairs DataFrame.  Operators
  that preserve row identity (project/filter/join) produce it *by
  construction* — the source rids are threaded through the plan as
  hidden columns.  Operators that destroy identity (aggregate/
  distinct/set ops) produce it *by key*: a hash join between input
  rids and output rows on the group key — exactly the reference's own
  composition recipe ("SELECT fst.src_index, snd.tgt_index FROM fst
  JOIN snd ON fst.tgt_index = snd.src_index", mappings.py:310-322),
  which Catalyst executes as a broadcast/shuffled hash join;
* mapping *composition* across statements is the same join, exposed as
  :func:`compose` and walked transitively by :class:`TraceReader`.

Scale note: trace mode is opt-in and costs one parquet write per
statement — at 100 TB you enable it for audited runs, or snapshot only
selected levels.  The mappings themselves are narrow two-column tables
that partition and join on rid with no skew.  The manifest records
each snapshot's and mapping's Spark schema, so reading a trace file
back never runs a footer-inference job; and ``why`` / ``where_used``
walk the mapping DAG with semi joins from the given rows, so they
never build the transitive rid relation that :meth:`TraceReader.lineage`
returns.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# trace levels, mirroring reference ir.py:371-403 (Level enum)
LEVELS = (
    "EXPORT",
    "ASSERTION",
    "STATEMENT",
    "TABLE_EXPRESSION",
    "COLUMN_EXPRESSION",
    "INTERNAL",
)


@dataclass
class TableRecord:
    id: str
    name: str
    level: str
    columns: list[dict]
    row_id: str
    path: str | None  # None for in-memory tracers
    schema: dict | None = None  # Spark JSON schema of the file at ``path``


@dataclass
class MappingRecord:
    id: str
    src: str
    tgt: str
    kind: str  # by_construction | by_key
    path: str | None
    schema: dict | None = None


class FileSystemTracer:
    """Writes snapshots + mappings as parquet and a ``trace.json``
    manifest (reference FileSystemTracer, io.py:96-122; manifest format
    inspired by manifest.py:10-59)."""

    def __init__(
        self,
        root: str,
        snapshot_levels: list[str] | None = None,
        mapping_sample: int | None = None,
        pin: str = "local",
    ):
        """``snapshot_levels`` is the 100 TB valve: when set, only
        tables at those levels (e.g. ``["EXPORT"]``) are written as full
        parquet snapshots; everything else runs *mapping-only* — row ids
        are pinned in executor storage (``localCheckpoint``) so the
        narrow (src_rid, tgt_rid) mapping tables are still exact, but no
        table-sized copy hits disk per statement.  ``None`` snapshots
        every level (reference behavior, io.py:96-122).

        ``mapping_sample=m`` is the second valve, for when even the
        narrow mappings (linear in rows) are too much at 100 TB: each
        mapping keeps only pairs whose ``xxhash64(src_rid) % m == 0``.
        Confidence contract — deterministic, not statistical: the kept
        subset is an EXACT, replayable forward lineage ("which outputs
        did this input row produce") for a fixed pseudo-random ~1/m of
        each mapping's source rows; an auditor re-derives the same
        subset from the rids alone.  Because the hash is over each
        mapping's own source rid, a k-hop transitive walk through
        ``TraceReader`` retains a chain with probability ~(1/m)^(k-1)
        — cross-statement audits should use ``m=None`` (exact) or walk
        single hops between snapshot levels.  The manifest records the
        sampling so readers can tell exact from sampled mappings.

        ``pin`` controls how mapping-only tables are pinned:
        ``"local"`` (default) uses ``localCheckpoint`` — free of disk
        writes but stored in executor-local blocks, so a LOST EXECUTOR
        makes the pinned rids unrecoverable (monotonically_increasing_id
        cannot be replayed) and aborts the audited run; ``"parquet"``
        writes a pin file under ``{root}/pins/`` — survives executor
        loss at the cost of one narrow-table write per statement (still
        far below full snapshots, which copy every column at every
        level).  On a real preemptible cluster use ``"parquet"``."""
        self.root = root
        self.snapshot_levels = (
            None if snapshot_levels is None else set(snapshot_levels)
        )
        if mapping_sample is not None and mapping_sample < 2:
            raise ValueError(f"mapping_sample must be >= 2, got {mapping_sample}")
        self.mapping_sample = mapping_sample
        if pin not in ("local", "parquet"):
            raise ValueError(f"pin must be 'local' or 'parquet', got {pin!r}")
        self.pin = pin
        # uid -> Spark JSON schema of every snapshot written, for the
        # manifest
        self._schemas: dict[str, dict] = {}
        os.makedirs(os.path.join(root, "tables"), exist_ok=True)
        os.makedirs(os.path.join(root, "mappings"), exist_ok=True)
        self.tables: list[TableRecord] = []
        self.mappings: list[MappingRecord] = []

    # -- engine-facing hooks --------------------------------------------------

    def materialize(self, uid: str, df: DataFrame, level: str = "STATEMENT") -> DataFrame:
        """Pin the working table (data + hidden rid columns) once and
        hand back the materialized frame: every downstream mapping and
        the snapshot itself observe the same row ids.  The read-back
        carries ``df``'s schema, so the write is the only Spark job."""
        if self.snapshot_levels is not None and level not in self.snapshot_levels:
            if self.pin == "parquet":
                path = os.path.join(self.root, "pins", f"{uid}.parquet")
                os.makedirs(os.path.join(self.root, "pins"), exist_ok=True)
                df.write.mode("overwrite").parquet(path)
                return df.sparkSession.read.schema(df.schema).parquet(path)
            return df.localCheckpoint(eager=True)
        path = os.path.join(self.root, "tables", f"{uid}.parquet")
        df.write.mode("overwrite").parquet(path)
        self._schemas[uid] = df.schema.jsonValue()
        return df.sparkSession.read.schema(df.schema).parquet(path)

    def record_table(self, uid, *, name, level, columns, rid_col) -> None:
        schema = self._schemas.get(uid)
        self.tables.append(
            TableRecord(
                id=uid,
                name=name,
                level=level,
                columns=[{"name": c, "dtype": d.name} for c, d in columns],
                row_id=rid_col,
                path=(
                    f"tables/{uid}.parquet"
                    if self.snapshot_levels is None or schema is not None
                    else None
                ),
                schema=schema,
            )
        )

    def record_mapping(self, src, tgt, *, kind, pairs: DataFrame) -> None:
        mid = f"m{len(self.mappings):03d}"
        path = os.path.join(self.root, "mappings", f"{mid}.parquet")
        if self.mapping_sample is not None:
            # deterministic rid-hash sample — the same source rows are
            # kept on every run/retry, and an auditor can re-derive the
            # kept set from the rids alone (see __init__ contract)
            pairs = pairs.filter(
                F.pmod(F.xxhash64(F.col("src_rid")), self.mapping_sample) == 0
            )
        pairs.write.mode("overwrite").parquet(path)
        self.mappings.append(
            MappingRecord(
                id=mid,
                src=src,
                tgt=tgt,
                kind=kind,
                path=f"mappings/{mid}.parquet",
                schema=pairs.schema.jsonValue(),
            )
        )

    def write_manifest(self) -> None:
        manifest = {
            "version": 1,
            "tables": [vars(t) for t in self.tables],
            "mappings": [vars(m) for m in self.mappings],
        }
        if self.mapping_sample is not None:
            manifest["mapping_sample"] = self.mapping_sample
        with open(os.path.join(self.root, "trace.json"), "w") as f:
            json.dump(manifest, f, indent=2)


class InMemoryTracer:
    """Test-scale tracer: snapshots pinned via ``localCheckpoint`` (the
    in-memory analogue of the parquet round-trip — materializes
    partitions so row ids are stable across actions)."""

    def __init__(self):
        self.snapshots: dict[str, DataFrame] = {}
        self.pairs: dict[str, DataFrame] = {}
        self.tables: list[TableRecord] = []
        self.mappings: list[MappingRecord] = []

    def materialize(self, uid: str, df: DataFrame, level: str = "STATEMENT") -> DataFrame:
        pinned = df.localCheckpoint(eager=True)
        self.snapshots[uid] = pinned
        return pinned

    def record_table(self, uid, *, name, level, columns, rid_col) -> None:
        self.tables.append(
            TableRecord(
                id=uid,
                name=name,
                level=level,
                columns=[{"name": c, "dtype": d.name} for c, d in columns],
                row_id=rid_col,
                path=None,
            )
        )

    def record_mapping(self, src, tgt, *, kind, pairs: DataFrame) -> None:
        mid = f"m{len(self.mappings):03d}"
        self.pairs[mid] = pairs.localCheckpoint(eager=True)
        self.mappings.append(
            MappingRecord(id=mid, src=src, tgt=tgt, kind=kind, path=None)
        )

    def write_manifest(self) -> None:
        pass


def run_traced(source, *, spark, importer, exporter, tracer, ordered=False):
    """Execute a script with provenance recording (the traced variant of
    runtime.run; reference dtl.run with tracer, eval.py:447-543)."""
    from python_dtl_spark.compiler import Engine

    from python_dtl_spark.runtime import _check_self_overwrite

    engine = Engine(spark, importer, ordered=ordered, tracer=tracer)
    # same contract as the untraced runtime.run: the post-export
    # invalidation protects the NEXT run with a reused importer, and a
    # within-script import-of-an-exported-location is rejected up front
    # (compilation pins file listings before any write)
    _check_self_overwrite(source, importer, exporter)
    invalidate = getattr(importer, "invalidate", None)
    for location, table in engine.run_script(source):
        exporter.export_table(location, table.public_df())
        if invalidate is not None:
            invalidate(location)
    tracer.write_manifest()


@dataclass
class _PipelineDType:
    """Shim giving Spark dtype strings the ``.name`` attribute
    ``record_table`` reads off the DTL type objects."""

    name: str


def record_pipeline_step(
    tracer,
    *,
    src_name: str,
    tgt_name: str,
    src_df: DataFrame,
    tgt_df: DataFrame,
    mapping: DataFrame,
    src_key: str,
    tgt_key: str,
    mapping_src: str | None = None,
    mapping_tgt: str | None = None,
    kind: str = "by_key",
    level: str = "PIPELINE",
) -> tuple[str, str]:
    """Bridge an OPERATOR-lineage mapping into the trace subsystem: the
    ManyToOne tables the pipeline flagships emit
    (:func:`~python_dtl_spark.operators.text.dedup_paragraphs` /
    :func:`~python_dtl_spark.operators.dedup.exact_dedup_canonical`
    with ``with_lineage=True``, or any ``(src_key → tgt_key)``
    relation) become first-class trace mappings, so
    :class:`TraceReader`'s ``why()`` / ``where_used()`` /  transitive
    ``lineage()`` walk pipeline steps exactly as they walk DTL
    statements — and compose ACROSS the two worlds when a DTL export
    feeds a pipeline operator.

    Both frames snapshot through the tracer's normal path, so the
    ``snapshot_levels`` 100 TB valve applies: keep ``"PIPELINE"`` out
    of ``snapshot_levels`` and only the narrow rid mapping is written
    — no table-sized copy, and no pin either (the frames' NATURAL keys
    serve as row ids, which are deterministic under re-computation, so
    unlike DTL-statement rids they need no materialize; the snapshot
    call is skipped entirely for an excluded level).  No synthetic rid
    generation pass runs — the mapping is already at key grain.

    ``src_key`` / ``tgt_key`` are the frames' natural-key (rid)
    columns; ``mapping_src`` / ``mapping_tgt`` name the mapping
    table's corresponding columns and default to ``src_<src_key>`` /
    ``kept_<tgt_key>`` — exactly what ``with_lineage=True`` emits.

    Returns the two table uids (``p{NNN}_{name}``, disjoint from the
    DTL statements' ``t{NNN}_{name}`` space).
    """
    mapping_src = mapping_src or f"src_{src_key}"
    mapping_tgt = mapping_tgt or f"kept_{tgt_key}"
    for col in (mapping_src, mapping_tgt):
        if col not in mapping.columns:
            raise ValueError(
                f"mapping column {col!r} not found (columns: "
                f"{mapping.columns}); pass mapping_src/mapping_tgt"
            )
    uids = []
    for name, df, key in ((src_name, src_df, src_key), (tgt_name, tgt_df, tgt_key)):
        if key not in df.columns:
            raise ValueError(
                f"key column {key!r} not in frame for table {name!r} "
                f"(columns: {df.columns})"
            )
        uid = f"p{len(tracer.tables):03d}_{name}"
        # Snapshot only when the level is opted in.  DTL statements
        # must ALWAYS pin (their rids are monotonically_increasing_id,
        # unreplayable without a pin), but pipeline frames use NATURAL
        # keys as rids — deterministic, so an excluded level needs no
        # pin at all.  Calling materialize unconditionally here would
        # write a table-sized pins/ copy (pin="parquet") or eagerly
        # localCheckpoint both frames (pin="local") for nothing
        # (advisor r11).
        levels = getattr(tracer, "snapshot_levels", None)
        if levels is None or level in levels:
            tracer.materialize(uid, df, level=level)
        tracer.record_table(
            uid,
            name=name,
            level=level,
            columns=[
                (c, _PipelineDType(t)) for c, t in df.dtypes if c != key
            ],
            rid_col=key,
        )
        uids.append(uid)
    pairs = mapping.select(
        F.col(mapping_src).alias("src_rid"),
        F.col(mapping_tgt).alias("tgt_rid"),
    )
    tracer.record_mapping(uids[0], uids[1], kind=kind, pairs=pairs)
    return uids[0], uids[1]


# -- mapping algebra ----------------------------------------------------------


def compose(ab: DataFrame, bc: DataFrame) -> DataFrame:
    """Compose two rid mappings: (a→b) ∘ (b→c) = (a→c).

    The reference compiles exactly this as a relational join on index
    arrays (mappings.py:310-322); here Catalyst picks the physical join.
    """
    return (
        ab.alias("f")
        .join(bc.alias("s"), F.col("f.tgt_rid") == F.col("s.src_rid"))
        .select(
            F.col("f.src_rid").alias("src_rid"), F.col("s.tgt_rid").alias("tgt_rid")
        )
        .dropDuplicates(["src_rid", "tgt_rid"])
    )


class TraceReader:
    """Query a written trace: snapshots, direct mappings, transitive
    lineage between any two trace tables, and the row-level questions
    :meth:`why` / :meth:`where_used` (the explainability UX the
    reference's manifest enables, manifest.py:62-134).

    The manifest records each snapshot's and mapping's Spark schema and
    every file is read with it, so building any of these frames runs no
    Spark job before its action; a manifest written without schemas
    falls back to footer inference.  ``why`` / ``where_used`` are
    semi-join walks from the given rows and never build the transitive
    relation :meth:`lineage` returns."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        with open(os.path.join(root, "trace.json")) as f:
            self.manifest = json.load(f)
        self._by_id = {t["id"]: t for t in self.manifest["tables"]}
        self._by_name: dict[str, dict] = {}
        for t in self.manifest["tables"]:
            self._by_name[t["name"]] = t  # last statement with the name wins

    def tables(self, level: str | None = None) -> list[dict]:
        """List trace-table records, optionally filtered by level (the
        reference's ``filter_tables(level=...)`` is an unimplemented
        TODO, eval.py:289-297 — real here)."""
        return [
            t
            for t in self.manifest["tables"]
            if level is None or t["level"] == level
        ]

    def table_id(self, name_or_id: str) -> str:
        if name_or_id in self._by_id:
            return name_or_id
        if name_or_id in self._by_name:
            return self._by_name[name_or_id]["id"]
        raise KeyError(f"no trace table {name_or_id!r}")

    def _read(self, rec: dict) -> DataFrame:
        """The parquet file a table or mapping record names, read with
        the record's schema when the manifest has one."""
        reader = self.spark.read
        if rec.get("schema") is not None:
            reader = reader.schema(StructType.fromJson(rec["schema"]))
        return reader.parquet(os.path.join(self.root, rec["path"]))

    def snapshot(self, name_or_id: str) -> DataFrame:
        """The traced table's data columns plus its ``row_id`` column."""
        rec = self._by_id[self.table_id(name_or_id)]
        if rec["path"] is None:
            raise ValueError(
                f"trace table {rec['name']!r} ran mapping-only (level "
                f"{rec['level']} excluded from snapshot_levels); its rid "
                "mappings exist but no data snapshot was written"
            )
        cols = [c["name"] for c in rec["columns"]] + [rec["row_id"]]
        return self._read(rec).select(*cols).withColumnRenamed(rec["row_id"], "__rid")

    def mapping(self, src: str, tgt: str) -> DataFrame | None:
        """Direct (one-hop) mapping between two trace tables, if any."""
        src, tgt = self.table_id(src), self.table_id(tgt)
        out = None
        for m in self.manifest["mappings"]:
            if m["src"] == src and m["tgt"] == tgt:
                pairs = self._read(m)
                out = pairs if out is None else out.unionByName(pairs)
        return out

    def _paths(self, src: str, tgt: str) -> tuple[list[str], list[dict]]:
        """The union of every mapping path ``src`` → ``tgt`` (table
        ids): its nodes in topological order and its edges, both empty
        when no path exists.

        Walks expand nodes in this order (Kahn over the subgraph), so a
        node's out-edges expand only after every in-path has been merged
        into its reach set.  A plain BFS expands a node the first time
        it is reached; in diamond-shaped graphs with unequal path
        lengths the late-arriving path's rows would never reach the
        node's descendants.  The trace graph is a DAG by construction
        (mapping targets are always created after their sources), so the
        topological order always exists.
        """
        mappings = self.manifest["mappings"]

        def closure(start: str, near: str, far: str) -> set[str]:
            seen, stack = {start}, [start]
            while stack:
                node = stack.pop()
                for m in mappings:
                    if m[near] == node and m[far] not in seen:
                        seen.add(m[far])
                        stack.append(m[far])
            return seen

        nodes = closure(src, "src", "tgt") & closure(tgt, "tgt", "src")
        edges = [m for m in mappings if m["src"] in nodes and m["tgt"] in nodes]
        # multi-edges count once per edge
        indeg = dict.fromkeys(nodes, 0)
        for m in edges:
            indeg[m["tgt"]] += 1
        ready = [src] if nodes else []
        order: list[str] = []
        while ready:
            node = ready.pop()
            order.append(node)
            for m in edges:
                if m["src"] == node:
                    indeg[m["tgt"]] -= 1
                    if indeg[m["tgt"]] == 0:
                        ready.append(m["tgt"])
        return order, edges

    def lineage(self, src: str, tgt: str) -> DataFrame | None:
        """Transitive (src_rid, tgt_rid) relation from ``src`` to ``tgt``
        composed along every mapping path, in the topological order of
        :meth:`_paths`; ``None`` when no path exists."""
        src, tgt = self.table_id(src), self.table_id(tgt)
        if src == tgt:
            snap = self.snapshot(src)
            return snap.select(
                F.col("__rid").alias("src_rid"), F.col("__rid").alias("tgt_rid")
            )
        order, edges = self._paths(src, tgt)
        # reach[t] = composed (src_rid → t rid) mapping, complete by the
        # time t itself is expanded
        reach: dict[str, DataFrame] = {}
        for node in order:
            for m in edges:
                if m["src"] != node:
                    continue
                pairs = self._read(m)
                step = pairs if node == src else compose(reach[node], pairs)
                if m["tgt"] in reach:
                    reach[m["tgt"]] = (
                        reach[m["tgt"]]
                        .unionByName(step)
                        .dropDuplicates(["src_rid", "tgt_rid"])
                    )
                else:
                    reach[m["tgt"]] = step
        return reach.get(tgt)

    def _walk(
        self, src_table: str, tgt_table: str, rows: DataFrame, forward: bool
    ) -> DataFrame:
        """The rows of the far table linked along some mapping path to
        ``rows`` (rows of the near table, carrying ``__rid``): forward
        walks ``src_table`` → ``tgt_table``, backward the other way.

        Each hop is a ``left_semi`` join of one mapping on its near rid
        column, projected to the far one; where several paths reach a
        node their rid sets are unioned.  A rid set only ever feeds the
        right side of a semi join, which does not multiply rows, so no
        step needs a distinct, and the given rows filter the first
        mapping read rather than the last.
        """
        order, edges = self._paths(self.table_id(src_table), self.table_id(tgt_table))
        if not order:
            raise KeyError(f"no lineage path {src_table!r} → {tgt_table!r}")
        near, far = ("src", "tgt") if forward else ("tgt", "src")
        if not forward:
            order.reverse()
        reach = {order[0]: rows.select("__rid")}
        for node in order:
            for m in edges:
                if m[near] != node:
                    continue
                step = (
                    self._read(m)
                    .join(
                        reach[node].withColumnRenamed("__rid", f"{near}_rid"),
                        f"{near}_rid",
                        "left_semi",
                    )
                    .select(F.col(f"{far}_rid").alias("__rid"))
                )
                nxt = m[far]
                reach[nxt] = step if nxt not in reach else reach[nxt].unionByName(step)
        snap = self.snapshot(order[-1])
        return snap.join(reach[order[-1]], "__rid", "left_semi").select(
            "__rid", *(c for c in snap.columns if c != "__rid")
        )

    def why(self, tgt_table: str, src_table: str, tgt_rows: DataFrame) -> DataFrame:
        """Explain: given rows of ``tgt_table`` (must carry ``__rid``),
        return the contributing rows of ``src_table`` (``__rid`` first,
        then the snapshot columns).  A backward semi-join walk; raises
        ``KeyError`` when no mapping path joins the two tables."""
        return self._walk(src_table, tgt_table, tgt_rows, forward=False)

    def where_used(
        self, src_table: str, tgt_table: str, src_rows: DataFrame
    ) -> DataFrame:
        """Forward provenance, symmetric to :meth:`why`: given rows of
        ``src_table`` (must carry ``__rid``), return the rows of
        ``tgt_table`` they contributed to — "if I delete/fix these
        inputs, which outputs change?".  The same semi-join walk, run
        forward."""
        return self._walk(src_table, tgt_table, src_rows, forward=True)
