"""File pruning: which data files a predicate lets a reader skip.

Scans, merges, deletes, the snapshot stream reader and imported Iceberg
tables all answer that question here, with three rules:

- **range rule** — :func:`overlaps`, rendered for Arrow pushdown by
  :func:`keep_expr`: a file whose column spans ``[lo, hi]`` is kept
  unless those bounds prove that no row matches. A missing bound is
  unbounded, and bounds that do not compare with the literal keep the
  file.
- **probe builder** — :func:`partition_sets`: a value set (a point
  predicate is a one-element set, a merge source is a DataFrame of key
  values) rendered through the write path's partition transforms, once
  per (column, transform, written type), in one Spark action.
- **keep rule** — :func:`keeps_tuple`, rendered for Arrow pushdown by
  :func:`keep_tuple_expr`: a file's recorded partition tuple is kept
  unless one of its positions holds a value outside the set rendered
  for the file's schema vintage.

Value sets have one form, ``{spec_id: {position: {vintage: frozenset |
None}}}``. A vintage is the schema id a file was written under; an
untracked table has the single vintage ``None``. A ``None`` set, or a
vintage the map does not list (a file with no recorded vintage), keeps
the file.

:func:`plan_files` applies the rules: the columnar sidecar
(:mod:`.plan_index`), which every commit writes, answers when it can,
and the manifest dict loop answers the rest. Iceberg splits planning
the same way: one manifest evaluator over partition summaries, one
metrics evaluator over column bounds, no per-operation copies.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from functools import reduce

# a position whose value set holds more distinct renderings than this
# is not pruned on: the probe must stay metadata-sized
_MAX_PARTITION_PROBE = 1000

_PARTITION_TRANSFORMS = ("identity", "day", "month", "hour", "bucket", "truncate")


def transform_col(col, transform: str):
    """The Spark Column computing a transform's partition value of
    ``col`` (a name or a Column), as a string — manifest values survive
    JSON round trips."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    if transform == "identity":
        return c.cast("string")
    if transform == "day":
        return F.date_format(c, "yyyy-MM-dd")
    if transform == "month":
        return F.date_format(c, "yyyy-MM")
    if transform == "hour":
        return F.date_format(c, "yyyy-MM-dd-HH")
    if transform.startswith("bucket["):
        n = int(transform[len("bucket[") : -1])
        return F.pmod(F.hash(c), F.lit(n)).cast("string")
    if transform.startswith("truncate["):
        w = int(transform[len("truncate[") : -1])
        return F.substring(c.cast("string"), 1, w)
    raise ValueError(
        f"unknown partition transform {transform!r}; expected one of "
        f"{_PARTITION_TRANSFORMS} (bucket[N] / truncate[W] parameterized)"
    )


# ------------------------------------------------------------ range rule
def overlaps(op: str, lit, lo, hi) -> bool:
    """Can a file whose column spans [lo, hi] hold a row matching
    ``col <op> lit``? A missing bound (None) is unbounded on that side.
    Bounds that cannot be ordered against the literal (mismatched
    types) keep the file: pruning is an optimization, never a
    correctness gate."""
    try:
        if op == "=":
            return (lo is None or lo <= lit) and (hi is None or lit <= hi)
        if op == "<":
            return lo is None or lo < lit
        if op == "<=":
            return lo is None or lo <= lit
        if op == ">":
            return hi is None or hi > lit
        if op == ">=":
            return hi is None or hi >= lit
    except TypeError:
        return True
    raise ValueError(f"unsupported plan operator {op!r}")


def keep_expr(col: str, op: str, lit):
    """:func:`overlaps` as a pushdown predicate over a sidecar segment's
    ``min:<col>`` / ``max:<col>`` columns — null bounds (no recorded
    stats for the file) always keep."""
    import pyarrow.compute as pc

    lo = pc.field(f"min:{col}")
    hi = pc.field(f"max:{col}")
    nulls = lo.is_null() | hi.is_null()
    if op == "=":
        return nulls | ((lo <= lit) & (hi >= lit))
    if op == "<":
        return nulls | (lo < lit)
    if op == "<=":
        return nulls | (lo <= lit)
    if op == ">":
        return nulls | (hi > lit)
    if op == ">=":
        return nulls | (hi >= lit)
    raise ValueError(f"unsupported plan operator {op!r}")


# ------------------------------------------------------------ probe builder
def render_sets(spark, values, probes: list[tuple]) -> dict:
    """``{(col, transform, type): frozenset of rendered values, or None
    for no pruning}`` for every probe, in one Spark action — None past
    ``_MAX_PARTITION_PROBE`` values and as below.
    ``values`` is ``{col: [value, ...]}`` or a DataFrame holding the
    probe columns; each value is cast to the probe's type (a value the
    type cannot hold renders as null) before the transform, so it
    renders exactly as the write path rendered a file of that type.

    A probe of a ``string`` type whose values are not strings gets no
    set (None): Spark compares such a value with the column by casting
    the column to the value's type, so ``"01"`` equals ``1`` though
    ``1`` renders as ``"1"``."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    def compares_as_written(c, typ):
        if typ != "string":
            return True
        if isinstance(values, dict):
            return all(isinstance(v, str) for v in values[c])
        return isinstance(values.select(c).schema[0].dataType, StringType)

    out = {p: None for p in probes if not compares_as_written(p[0], p[2])}
    probes = [p for p in probes if p not in out]
    if not probes:
        return out

    def cell(j, c, transform, typ):
        v = F.coalesce(transform_col(c.try_cast(typ), transform), F.lit("null"))
        return F.struct(F.lit(j).alias("p"), v.alias("v"))

    if isinstance(values, dict):
        # point sets are tiny: one single-partition row, no dedupe
        cells = [
            cell(j, F.lit(v), tr, ty)
            for j, (c, tr, ty) in enumerate(probes)
            for v in values[c]
        ]
        rows = (
            spark.range(0, 1, 1, 1)
            .select(F.explode(F.array(*cells)).alias("e"))
            .select("e.*")
            .collect()
        )
    else:
        cells = [cell(j, F.col(c), tr, ty) for j, (c, tr, ty) in enumerate(probes)]
        # one shuffle: hash-partitioned by position, both the dedupe and
        # the per-position cap run without another exchange
        rows = (
            values.select(F.explode(F.array(*cells)).alias("e"))
            .select("e.*")
            .repartition("p")
            .distinct()
            .withColumn("r", F.row_number().over(Window.partitionBy("p").orderBy("v")))
            .filter(F.col("r") <= _MAX_PARTITION_PROBE + 1)
            .collect()
        )
    sets: dict[tuple, set] = {p: set() for p in probes}
    for r in rows:
        sets[probes[r.p]].add(r.v)
    for p, s in sets.items():
        out[p] = frozenset(s) if len(s) <= _MAX_PARTITION_PROBE else None
    return out


def _file_schema(table, f: str):
    """A data file's Spark schema: the one Spark recorded in its footer,
    else Spark's own read of the file."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    meta = pq.read_schema(os.path.join(table.path, f)).metadata or {}
    raw = meta.get(b"org.apache.spark.sql.parquet.row.metadata")
    if raw is not None:
        return StructType.fromJson(json.loads(raw))
    return table._read_files([f]).schema


def _column_types(table, cols: set, files) -> dict:
    """Spark types of an untracked table's ``cols``. Such tables are
    type-stable across files (their recorded tuples assume it), so the
    first of ``files`` holding a column answers for it."""
    types: dict[str, str] = {}
    for f in files:
        if f is None:
            continue
        schema = _file_schema(table, f)
        for c in cols - set(types):
            if c in schema.names:
                types[c] = schema[c].dataType.simpleString()
        if len(types) == len(cols):
            break
    return types


def _tracked_column(meta: dict, cols):
    """Resolver of a spec's column ``name`` on a schema-tracked table:
    ``(current column, {schema id: written type | None})`` when the
    column is one of ``cols``, else None. A spec records the name
    current at append time; it resolves through field ids — the current
    schema's owner, else the unique historical owner (an ambiguous name
    prunes nothing)."""
    schemas = meta["schemas"]
    cur = next(s for s in schemas if s["schema_id"] == meta["current_schema_id"])
    id_by_name = {f["name"]: f["id"] for f in cur["fields"]}
    name_by_id = {i: n for n, i in id_by_name.items()}

    def resolve(spec: dict, name: str):
        fid = id_by_name.get(name)
        if fid is None:
            ids = {f["id"] for s in schemas for f in s["fields"] if f["name"] == name}
            fid = ids.pop() if len(ids) == 1 else None
        col = name_by_id.get(fid)
        if col not in cols:
            return None
        return col, {
            s["schema_id"]: next(
                (f["type"] for f in s["fields"] if f["id"] == fid), None
            )
            for s in schemas
        }

    return resolve


def partition_sets(table, values, cols, specs: list[dict], meta: dict, files) -> dict:
    """The probe builder: ``{spec_id: {position: {vintage: frozenset |
    None}}}`` over every spec entry whose source column is one of
    ``cols``, rendered by :func:`render_sets` in one Spark action — or
    in none when no entry covers one of ``cols``.

    ``values`` holds the value sets: ``{col: [value, ...]}`` for point
    predicates, a DataFrame of rows for a merge source. A value renders
    at the type the file was written with: per schema vintage on a
    tracked table (``meta`` holds the schema log; bucket's hash is
    type-sensitive, so a file written before a widening recorded its
    tuple under the old type), at the type the spec records for the
    column on an untracked one (:func:`.snapshots.append_partitioned`
    records it; a spec written before that reads it from the footers of
    ``files``, anchor first). A vintage that lacks the field keeps its
    files (``None``), and a position with more than
    ``_MAX_PARTITION_PROBE`` distinct renderings — or values that do not
    render as Spark compares them (:func:`render_sets`) — is left out."""
    if meta.get("schemas"):
        resolve = _tracked_column(meta, cols)
    else:
        unrecorded = {
            n for s in specs for n, _ in s["spec"] if n in cols and n not in s.get("types", {})
        }
        footer = _column_types(table, unrecorded, files) if unrecorded else {}

        def resolve(spec: dict, name: str):
            if name not in cols:
                return None
            return name, {None: spec.get("types", {}).get(name) or footer.get(name)}

    entries = []  # (spec_id, position, column, transform, {vintage: type})
    for s in specs:
        for i, (name, transform) in enumerate(s["spec"]):
            r = resolve(s, name)
            if r is not None:
                entries.append((s["spec_id"], i, r[0], transform, r[1]))
    rendered = render_sets(
        table.spark,
        values,
        sorted(
            {(c, tr, ty) for *_, c, tr, by_v in entries for ty in by_v.values() if ty}
        ),
    )
    wanted: dict[int, dict] = {s["spec_id"]: {} for s in specs}
    for spec_id, i, c, tr, by_v in entries:
        sets = {v: rendered[(c, tr, ty)] if ty else None for v, ty in by_v.items()}
        if any(ty and sets[v] is None for v, ty in by_v.items()):
            continue  # no set rendered: no pruning on this position
        wanted[spec_id][i] = sets
    return wanted


# ------------------------------------------------------------ keep rule
def keeps_tuple(tup, wanted: dict, vintage) -> bool:
    """The keep rule for one file: its recorded tuple ``tup`` under
    ``wanted``, its spec's ``{position: {vintage: set | None}}``, read
    at the set rendered for the file's ``vintage``."""
    for i, by_vintage in wanted.items():
        vals = by_vintage.get(vintage)
        if vals is not None and tup[i] not in vals:
            return False
    return True


def _any(exprs):
    import pyarrow.compute as pc

    return reduce(lambda a, b: a | b, exprs, pc.scalar(False))


def keep_tuple_expr(wanted_by_spec: dict, part_k: int, cur_spec: int):
    """:func:`keeps_tuple` as a pushdown predicate over one sidecar
    segment whose tuples span ``part_k`` columns. A null
    ``part_spec_id`` is the doc's current spec ``cur_spec``; tuple-less
    rows and rows under specs outside the map keep. Every term is
    null-safe (``isin`` is false on null): Arrow's three-valued logic
    would otherwise drop — prune — rows a null makes unknown."""
    import pyarrow as pa
    import pyarrow.compute as pc

    spec_id, vintage = pc.field("part_spec_id"), pc.field("schema_id")

    def spec_is(s):
        e = spec_id.isin([s])
        return e | spec_id.is_null() if s == cur_spec else e

    def vintage_is(v):
        return vintage.is_null() if v is None else vintage.isin([v])

    keep = ~pc.field("has_part") | ~_any(spec_is(s) for s in wanted_by_spec)
    for s, wanted in wanted_by_spec.items():
        if any(i >= part_k for i in wanted):
            continue  # no tuple in this segment reaches the position
        e = spec_is(s)
        for i, by_vintage in wanted.items():
            sets = {v: vals for v, vals in by_vintage.items() if vals is not None}
            part = pc.field(f"part:{i}")
            e = e & (
                ~_any(vintage_is(v) for v in sets)
                | _any(
                    vintage_is(v) & part.isin(pa.array(sorted(vals), pa.string()))
                    for v, vals in sets.items()
                )
            )
        keep = keep | e
    return keep


# ------------------------------------------------------------ planner
@dataclass
class FilePlan:
    """The planned files of one snapshot. ``doc`` is the sidecar doc that
    answered, or None when the manifest dict loop did (``snap`` then
    holds the manifest). ``parts`` is the partition meta the value sets
    were rendered against; ``unstatted`` lists the kept files with no
    recorded bounds on the column the plan was asked about."""

    files: list[str]
    total: int
    has_file_stats: bool
    doc: dict | None = None
    snap: dict | None = None
    parts: dict | None = None
    wanted: dict | None = None
    unstatted: set = field(default_factory=set)

    def summary(self) -> dict:
        out = {"total_files": self.total, "scanned_files": len(self.files)}
        if self.doc is not None:
            out["columnar"] = True
        return out


def plan_files(
    table,
    sid: int,
    ranges=(),
    values=None,
    cols=(),
    *,
    snap: dict | None = None,
    unstatted: str | None = None,
) -> FilePlan:
    """The one file planner: the files of snapshot ``sid`` that may hold
    a row matching every ``(col, op, literal)`` of ``ranges`` and — when
    ``values`` is given — whose partition tuple may hold one of its
    ``cols`` values (see :func:`partition_sets`).

    Planning only reads: the snapshot's sidecar doc, written by its
    commit, answers when it is fresh, and nothing here writes one.
    ``snap`` saves loading the manifest when the caller holds it;
    ``unstatted`` names the column whose bound-less kept files the plan
    lists (the merge's footer fallback)."""
    from . import plan_index as P

    doc = P._fresh_doc(table.path, sid)
    wanted = None
    # the dict loop answers where the sidecar cannot:
    # - no fresh doc: the snapshot was committed before commits wrote
    #   one, or its doc was rewritten with other content or dropped
    #   after a torn segment read;
    # - a value set on a sidecar without partition columns: its tuples
    #   could not be typed as strings;
    # - wherever _plan_sidecar gives up: an unindexed stat column, a
    #   literal that does not compare with the indexed type, a torn
    #   segment
    if doc is not None and (values is None or doc.get("partition_specs")):
        if values is not None:

            def anchor_first():
                yield P.first_path(table.path, doc)
                yield from (snap or table._load_snap(sid))["files"]

            specs = doc["partition_specs"]["specs"]
            wanted = partition_sets(table, values, cols, specs, doc, anchor_first())
        plan = _plan_sidecar(table.path, doc, ranges, wanted, unstatted)
        if plan is not None:
            return plan
    if snap is None:
        snap = table._load_snap(sid)
    parts = P._part_meta_from_snap(snap)
    if values is not None and wanted is None and parts is not None:
        wanted = partition_sets(table, values, cols, parts["specs"], snap, snap["files"])
    return _plan_dict(snap, ranges, wanted, parts, unstatted)


def _plan_sidecar(table_path, doc, ranges, wanted, unstatted) -> FilePlan | None:
    """The columnar plan, or None where the sidecar cannot answer."""
    from . import plan_index as P

    kept = None
    if ranges or wanted is None:
        res = P.plan_paths(table_path, doc, list(ranges))
        if res is None:  # unindexed stat column, incomparable literal, torn segment
            return None
        kept = res[0]
    if wanted is not None:
        res = P.plan_partition_paths(table_path, doc, wanted)
        if res is None:  # torn segment
            return None
        hit = set(res[0])
        kept = res[0] if kept is None else [f for f in kept if f in hit]
    missing = set()
    if unstatted is not None:
        missing = P.paths_missing_stat(table_path, doc, unstatted)
        if missing is None:  # unindexed stat column, torn segment
            return None
    return FilePlan(
        kept,
        doc["live_files"],
        doc["has_file_stats"],
        doc=doc,
        parts=doc.get("partition_specs"),
        wanted=wanted,
        unstatted=set(missing) & set(kept),
    )


def _plan_dict(snap, ranges, wanted, parts, unstatted) -> FilePlan:
    """The same rules as one loop over the manifest dict."""
    stats = snap.get("file_stats") or {}
    tuples = snap.get("file_partitions") or {}
    spec_ids = snap.get("file_spec_ids") or {}
    vintages = snap.get("file_schema_ids") or {}
    kept, missing = [], set()
    for f in snap["files"]:
        tup = tuples.get(f)
        if wanted and tup is not None:
            spec = spec_ids.get(f, parts["current_spec_id"])
            if not keeps_tuple(tup, wanted.get(spec, {}), vintages.get(f)):
                continue
        bounds = stats.get(f) or {}
        if not all(
            overlaps(op, lit, *(bounds.get(c) or (None, None))) for c, op, lit in ranges
        ):
            continue
        if unstatted is not None and bounds.get(unstatted) is None:
            missing.add(f)
        kept.append(f)
    return FilePlan(
        kept,
        len(snap["files"]),
        snap.get("file_stats") is not None,
        snap=snap,
        parts=parts,
        wanted=wanted,
        unstatted=missing,
    )
