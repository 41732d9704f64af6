"""Minimal copy-on-write snapshot table — REAL executed merge semantics.

Reference analog (J2/S8): read the existing observation record, augment
it, write it back (``wallaby2caom2/tests/test_caom_gen_visit.py:109-117``
``_caom2_read`` → ``_caom2_store``). The lakehouse spelling is
``MERGE INTO`` on Iceberg/Delta; this container ships no lakehouse jar
and cannot fetch one, so rather than leaving the read-modify-write path
mock-tested, this module implements the minimal subset of a lakehouse
table format those engines provide — enough that the merge path EXECUTES
end-to-end in tests with no mocks:

- **Versioned snapshots** — every commit writes new data files under a
  fresh snapshot directory and a new manifest ``_meta/v<N>.json``. The
  manifest file ITSELF is the commit point: the live version is simply
  the highest ``v<N>.json`` present (the same log-is-the-truth rule as
  Delta's ``_delta_log``), created via ``os.link`` from a temp file —
  an atomic put-if-absent, so exactly one writer can publish a given
  version. There is no separate pointer file to swap, hence no window
  in which a crash can leave a half-commit: either ``v<N>.json`` exists
  (committed) or it does not (invisible). Readers resolve version →
  manifest → file list, so they see a complete old version or a
  complete new one, never a torn mix.
- **Copy-on-write at bucket granularity** — a merge rewrites data files
  ONLY for buckets its updates touch; untouched buckets' manifest
  entries carry forward pointing at the older snapshot's files (no read,
  no rewrite — at 10^12 rows a 0.1% update batch rewrites 0.1% of the
  table, which is the entire point of a lakehouse MERGE).
- **Sparse manifests** — a manifest entry exists only for buckets that
  actually hold rows (Spark's ``partitionBy`` creates no directory for
  an empty partition); a missing entry reads as an empty bucket. The
  manifest also records the snapshot's schema so an empty table / empty
  bucket-set read returns a correctly-typed empty DataFrame.
- **Optimistic concurrency** — a merge records the base version it read;
  if a newer manifest exists by commit time it raises
  ``SnapshotConflictError`` instead of clobbering the other writer (the
  same first-writer-wins rule Iceberg/Delta enforce; retry = re-run the
  merge on the new base). Two writers racing from the same base both
  try to link the same ``v<N>.json``; the loser's ``os.link`` fails.
- **Crash safety** — a failure before the manifest link leaves orphan
  data files and NO visible change; a failure after the link IS a
  completed commit (re-running the merge reads the new base and
  converges — latest-wins is idempotent). Exactly-once at read time,
  the wave-runner contract. Orphan data dirs are reaped by
  ``expire_snapshots``.
- **MERGE arms** — UPDATE matched / INSERT unmatched / DELETE matched
  rows satisfying ``delete_where`` (the ``WHEN MATCHED AND cond THEN
  DELETE`` arm the reference's repair visitor needs —
  ``wallaby2caom2/fix_product_id_visit.py:97-106`` deletes emptied
  planes). A bucket emptied by deletes simply drops out of the manifest.
- **Merge-on-read** (``merge(..., mode="mor")``) — the write path for
  small/frequent batches at 10^12-row scale: the merge writes ONLY the
  deduped update batch (tombstone rows for the delete arm) as a delta
  file group per touched bucket and appends it to the manifest's
  per-bucket delta list — O(batch) I/O, no base read, no bucket
  rewrite. Readers resolve latest-wins per key across base + deltas
  (ordered by committing version) and filter tombstones; buckets with
  no deltas keep the plain COW scan plan. ``compact`` materializes the
  resolution and clears delta lists (optionally only for buckets whose
  delta count crossed a threshold — incremental maintenance). This is
  the Iceberg v2 positional/equality-delete // Delta deletion-vector
  trade: COW pays at write time and reads clean files, MOR pays a
  per-read window over delta'd buckets and writes O(batch). Both modes
  build the same batch and resolve it with the same latest-wins window
  (``_resolve_deltas``); they differ only in when it runs.
- **Time travel** — ``read_table(..., version=N)`` resolves any retained
  manifest.

On a multi-node cluster the table path must be shared storage where
create-exclusive is atomic (HDFS / NFS with ``os.link`` semantics; on
S3 the manifest put needs a conditional put — documented limitation,
the same one Delta solves with a LogStore). Single-writer-at-a-time is
the supported regime per table, as with Hive; the put-if-absent link
additionally guarantees that even a violating concurrent writer cannot
clobber a committed manifest.
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..operators.partitioning import with_bucket
from ..session import local_frame

_META = "_meta"
_MANIFEST_RE = re.compile(r"^v(\d+)\.json$")


class SnapshotConflictError(RuntimeError):
    """The table advanced between a merge's base read and its commit —
    another writer won; re-run the merge against the new base."""


def _meta_dir(path: str) -> str:
    return os.path.join(path, _META)


def _list_versions(path: str) -> list[int]:
    meta = _meta_dir(path)
    if not os.path.isdir(meta):
        return []
    out = []
    for name in os.listdir(meta):
        m = _MANIFEST_RE.match(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def is_snapshot_table(path: str) -> bool:
    return bool(_list_versions(path))


def current_version(path: str) -> int:
    """The live version = highest committed manifest (the manifest file
    is the commit point; there is no pointer file that can lag it)."""
    versions = _list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshot table at {path}")
    return versions[-1]


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_meta_dir(path), f"v{version}.json")


def read_manifest(path: str, version: int | None = None) -> dict:
    v = current_version(path) if version is None else version
    with open(_manifest_path(path, v)) as fh:
        m = json.load(fh)
    m["version"] = v
    return m


def _commit(path: str, manifest: dict, new_version: int, base_version: int) -> None:
    """Publish manifest ``v<new_version>.json`` with PUT-IF-ABSENT
    semantics — ``os.link`` from a temp file fails atomically if the
    target exists. The link IS the commit: once ``v<N>.json`` is
    visible the table is at version N (readers take the max manifest),
    so there is no post-link step a crash could tear. Two writers
    racing from the same base both try to create the same next
    manifest; exactly one link succeeds and the loser gets
    ``SnapshotConflictError`` — the atomic-next-log-entry protocol
    lakehouse formats use."""
    meta = _meta_dir(path)
    os.makedirs(meta, exist_ok=True)
    versions = _list_versions(path)
    if versions and versions[-1] != base_version:
        raise SnapshotConflictError(
            f"snapshot table {path}: base version {base_version} is no "
            f"longer current ({versions[-1]}) — concurrent commit; "
            "re-run the merge"
        )
    mpath = _manifest_path(path, new_version)
    tmp = mpath + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    try:
        os.link(tmp, mpath)  # atomic create-exclusive: THE commit point
    except FileExistsError:
        raise SnapshotConflictError(
            f"snapshot table {path}: version {new_version} was committed "
            "concurrently; re-run the merge on the new base"
        ) from None
    finally:
        os.remove(tmp)


def _write_snapshot_files(
    df: DataFrame, path: str, n_tasks: int
) -> tuple[str, dict[int, str], dict]:
    """Write ``df`` (must carry ``bucket``) under a fresh snapshot dir,
    one directory per bucket, returning (snapshot_id, {bucket:
    relative_dir}, per-bucket zone-map stats) for the bucket dirs
    ACTUALLY created — ``partitionBy`` makes no directory for an empty
    partition, so a sparse write (fewer keys than buckets, hash skew,
    or deletes emptying a bucket) yields a sparse map; a missing entry
    means an empty bucket (``_read_buckets``).

    ``repartitionByRange`` on the bucket value keeps rewrite
    parallelism equal to the touched-bucket count (plain hash
    ``repartition`` can collide distinct bucket values into one task).

    Zone maps are computed by reading BACK the just-written parquet:
    column pruning means only the atomic statable columns are scanned
    (the audio payload bytes never leave the footers), so the stats
    pass costs a slim column scan of the batch, not a second full
    materialization of the plan."""
    sid = "s" + uuid.uuid4().hex[:12]
    snap_rel = os.path.join("data", sid)
    (
        df.repartitionByRange(max(n_tasks, 1), F.col("bucket"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(path, snap_rel))
    )
    written: dict[int, str] = {}
    for name in os.listdir(os.path.join(path, snap_rel)):
        if name.startswith("bucket="):
            b = int(name.split("=", 1)[1])
            written[b] = os.path.join(snap_rel, name)
    stats: dict = {}
    if written:
        spark = df.sparkSession
        back = spark.read.option(
            "basePath", os.path.join(path, snap_rel)
        ).parquet(*[os.path.join(path, r) for r in written.values()])
        stats = _bucket_stats(back)
    return sid, written, stats


def _json_safe(v):
    """Stats values must survive the JSON manifest round trip."""
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def _bucket_stats(df: DataFrame) -> dict:
    """Per-bucket zone maps for data skipping: ``{bucket: {"n_rows": n,
    "cols": {col: [min, max, null_count]}}}`` over every atomic
    (numeric / string / boolean) column — the manifest-level analog of
    Iceberg's per-file column stats / Delta's add-action stats. One
    map-side-combined agg over the batch being written (bounded output:
    n_buckets rows x statable columns), collected to the driver for the
    manifest."""
    statable = [
        f.name
        for f in df.schema.fields
        if f.name not in ("bucket", "_deleted")
        and isinstance(
            f.dataType, (T.NumericType, T.StringType, T.BooleanType)
        )
    ]
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in statable:
        aggs.append(F.min(c).alias(f"_min_{c}"))
        aggs.append(F.max(c).alias(f"_max_{c}"))
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"_nulls_{c}"))
    out: dict = {}
    for r in df.groupBy("bucket").agg(*aggs).collect():
        out[str(r["bucket"])] = {
            "n_rows": r["_n"],
            "cols": {
                c: [
                    _json_safe(r[f"_min_{c}"]),
                    _json_safe(r[f"_max_{c}"]),
                    r[f"_nulls_{c}"],
                ]
                for c in statable
            },
        }
    return out


def _merge_stats_union(base: dict | None, delta: dict | None) -> dict:
    """Interval union of two per-bucket stats entries (merge-on-read: a
    bucket's effective zone map is base ∪ pending deltas). Min of mins,
    max of maxes — a SUPERSET of the live rows (tombstoned rows may
    keep the interval wide until compaction recomputes it exactly),
    which is the safe direction for pruning."""
    if not base:
        return dict(delta or {})
    if not delta:
        return dict(base)
    cols: dict = {}
    for c in set(base.get("cols", {})) | set(delta.get("cols", {})):
        b, d = base.get("cols", {}).get(c), delta.get("cols", {}).get(c)
        if b is None or d is None:
            # column statable on one side only (widening): rows on the
            # other side read NULL for it, which no comparison matches —
            # the one-sided interval remains a safe zone map
            cols[c] = list(b or d)
            continue
        lo = b[0] if d[0] is None else d[0] if b[0] is None else min(b[0], d[0])
        hi = b[1] if d[1] is None else d[1] if b[1] is None else max(b[1], d[1])
        cols[c] = [lo, hi, (b[2] or 0) + (d[2] or 0)]
    return {
        "n_rows": (base.get("n_rows") or 0) + (delta.get("n_rows") or 0),
        "cols": cols,
    }


# string literals and backquoted names, matched left to right, so that a
# keyword, operator or quote inside one is never read as predicate syntax
_QUOTED_RE = re.compile(r"'(?:[^']|'')*'|\"(?:[^\"]|\"\")*\"|`(?:[^`]|``)*`")
# one side of a conjunct: a name, a hidden quoted token, or a number
_TERM = r"(\x00\d+\x00|-?\d+(?:\.\d+)?|\w+)"
_CONJUNCT_RE = re.compile(rf"\s*{_TERM}\s*(<=|>=|<|>|=)\s*{_TERM}\s*")
_NUMBER_RE = re.compile(r"-?\d+(?:\.\d+)?")
_FLIP = {"<": ">", ">": "<", "<=": ">=", ">=": "<=", "=": "="}


def _term(term: str, hidden: list[str]) -> tuple[str, object] | None:
    """One side of a conjunct as ``("col", name)`` or ``("lit", value)``;
    None for anything else (a double-quoted or backquoted token — either
    can name a column — or a typed literal such as ``5L``)."""
    if term.startswith("\x00"):
        tok = hidden[int(term.strip("\x00"))]
        if tok.startswith("'"):
            return "lit", tok[1:-1].replace("''", "'")
        return None
    if _NUMBER_RE.fullmatch(term):
        return "lit", float(term) if "." in term else int(term)
    if term.lower() in ("true", "false"):
        return "lit", term.lower() == "true"
    return None if term[0].isdigit() else ("col", term)


def _conjuncts(where: str) -> list[tuple] | None:
    """``where`` as a list of ``(column, op, literal)`` when it is a
    top-level AND chain of such comparisons and nothing else; None for
    any other shape. All or nothing: a part that does not parse could be
    a fragment of CASE, BETWEEN or a comment, so pruning on the parts
    that did parse would not be safe. Backslash escapes are not parsed."""
    if "\\" in where or "\x00" in where:
        return None
    hidden: list[str] = []

    def hide(m):
        hidden.append(m.group(0))
        return f"\x00{len(hidden) - 1}\x00"

    masked = _QUOTED_RE.sub(hide, where)
    if re.search(r"(?i)\b(or|not)\b|[()]", masked):
        return None
    out = []
    for part in re.split(r"(?i)\band\b", masked):
        m = _CONJUNCT_RE.fullmatch(part)
        if not m:
            return None
        left, op, right = m.groups()
        lt, rt = _term(left, hidden), _term(right, hidden)
        kinds = (lt and lt[0], rt and rt[0])
        if kinds == ("col", "lit"):
            out.append((left, op, rt[1]))
        elif kinds == ("lit", "col"):
            out.append((right, _FLIP[op], lt[1]))
        else:
            return None
    return out


def _conjunct_excludes(col_stats: list, op: str, lit) -> bool:
    """True when the zone map PROVES no row in the bucket satisfies
    ``col op lit``. NULL cells never satisfy a comparison (SQL
    three-valued logic), so an all-NULL interval (min=max=None) excludes
    every comparison; mixed types fall back to not-prunable."""
    lo, hi = col_stats[0], col_stats[1]
    if lo is None and hi is None:
        return True  # every row NULL for this column
    try:
        if op == "=":
            return lit < lo or lit > hi
        if op == "<":
            return lo >= lit
        if op == "<=":
            return lo > lit
        if op == ">":
            return hi <= lit
        if op == ">=":
            return hi < lit
    except TypeError:
        return False
    return False


def prune_buckets(manifest: dict, where: str) -> list[int] | None:
    """Buckets that MAY hold rows matching ``where``, from the
    manifest's zone maps — or None when pruning cannot be proven safe
    (any shape other than a top-level AND chain of ``col (<|<=|>|>=|=)
    literal`` comparisons, or a pre-stats manifest). The returned list
    feeds ``_read_buckets`` — the same code path as explicit bucket
    selection, so pruned reads stay on the ordinary scan plan."""
    stats: dict = manifest.get("stats") or {}
    if not stats:
        return None
    conjuncts = _conjuncts(where)
    if not conjuncts:
        return None
    all_buckets = set(manifest["buckets"]) | set(manifest.get("deltas", {}))
    kept = []
    for b in sorted(all_buckets, key=int):
        entry = stats.get(b)
        if entry is None:
            kept.append(int(b))  # no zone map for this bucket: keep it
            continue
        excluded = any(
            c in entry.get("cols", {})
            and _conjunct_excludes(entry["cols"][c], op, lit)
            for c, op, lit in conjuncts
        )
        if not excluded:
            kept.append(int(b))
    return kept


def _schema_with_bucket(df: DataFrame) -> str:
    """JSON schema of the snapshot INCLUDING the bucket partition column
    (recorded in the manifest so empty reads are correctly typed)."""
    fields = [f for f in df.schema.fields if f.name != "bucket"]
    fields.append(T.StructField("bucket", T.IntegerType(), True))
    return json.dumps(T.StructType(fields).jsonValue())


def _empty_frame(spark: SparkSession, manifest: dict) -> DataFrame:
    if "schema" not in manifest:
        raise ValueError(
            "no buckets to read and the manifest records no schema "
            "(pre-sparse-manifest table?) — cannot type an empty read"
        )
    schema = T.StructType.fromJson(json.loads(manifest["schema"]))
    return local_frame(spark, [], schema)


def create_table(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    key: str = "clip_id",
    n_buckets: int = 16,
) -> dict:
    """Bootstrap version 0 from ``df``. Fails if a table already exists
    (use merge for subsequent writes). Duplicate keys in ``df`` collapse
    to one row each, by the rule ``merge`` applies without ``order_col``."""
    if is_snapshot_table(path):
        raise ValueError(f"snapshot table already exists at {path}")
    bucketed = with_bucket(_dedup_updates(df, key, None), n_buckets, key=key)
    empty = {"key": key, "n_buckets": n_buckets, "version": -1}
    _commit_rewrite(path, empty, bucketed, None, _schema_with_bucket(bucketed))
    return read_manifest(path)


def _commit_rewrite(
    path: str,
    base: dict,
    df: DataFrame,
    rewritten: list[int] | None,
    schema: str,
) -> tuple[int, dict[int, str]]:
    """Commit ``df`` (carrying ``bucket``) as the new content of the
    ``rewritten`` buckets — of the whole table when None — on top of
    ``base``: write a fresh snapshot, drop those buckets' base entries,
    pending delta lists and zone maps, add the written bucket dirs with
    their exact zone maps, and link manifest ``v<base + 1>``. Every other
    bucket carries forward untouched; a rewritten bucket left empty (its
    rows all deleted) drops out of the manifest. Returns the new version
    and the {bucket: dir} written."""
    n_tasks = base["n_buckets"] if rewritten is None else len(rewritten)
    _sid, dirs, stats = _write_snapshot_files(df, path, n_tasks)
    gone = None if rewritten is None else {str(b) for b in rewritten}

    def carried(entries: dict | None) -> dict:
        if gone is None:
            return {}
        return {b: v for b, v in (entries or {}).items() if b not in gone}

    manifest = {
        "key": base["key"],
        "n_buckets": base["n_buckets"],
        "buckets": {
            **carried(base.get("buckets")),
            **{str(b): d for b, d in dirs.items()},
        },
        "schema": schema,
        "stats": {**carried(base.get("stats")), **stats},
    }
    deltas = carried(base.get("deltas"))
    if deltas:
        manifest["deltas"] = deltas
    version = base["version"] + 1
    _commit(path, manifest, version, base_version=base["version"])
    return version, dirs


def _union_snap_reads(
    spark: SparkSession, path: str, rels: list[str]
) -> DataFrame | None:
    """Union the bucket dirs in ``rels`` (grouped so dirs from one
    snapshot share a basePath read that restores the partition column).
    Returns None for an empty selection."""
    by_snap: dict[str, list[str]] = {}
    for rel in rels:
        by_snap.setdefault(os.path.dirname(rel), []).append(rel)
    df = None
    for snap_rel, group in sorted(by_snap.items()):
        p = spark.read.option(
            "basePath", os.path.join(path, snap_rel)
        ).parquet(*[os.path.join(path, r) for r in group])
        # allowMissingColumns: snapshots written before a schema-widening
        # merge lack the new columns — their rows read back as NULL (the
        # standard lakehouse evolution contract)
        df = p if df is None else df.unionByName(p, allowMissingColumns=True)
    return df


def _resolve_deltas(
    base: DataFrame | None, delta: DataFrame, key: str
) -> DataFrame:
    """Latest-wins resolution, shared by merge-on-read reads and the
    copy-on-write merge: latest ``_seq`` wins per key, tombstones
    (``_deleted``) drop the key. ``base`` rows carry ``_seq = -1``; each
    delta group already has unique keys (``_dedup_updates`` ran at write
    time), so (key, _seq) is unique and the window is a top-1 per key.
    The result keeps ``_in_base`` (the key held a base row), the one fact
    COW's updated/inserted/deleted counts need; a read drops it and the
    optimizer prunes its window function. The shuffle this costs is
    confined to the delta'd buckets — the documented MOR read tax."""
    if base is not None:
        base = base.withColumn("_seq", F.lit(-1)).withColumn(
            "_deleted", F.lit(False)
        )
        merged = base.unionByName(delta, allowMissingColumns=True)
    else:
        merged = delta
    by_key = Window.partitionBy(key)
    return (
        merged.withColumn(
            "_rn", F.row_number().over(by_key.orderBy(F.col("_seq").desc()))
        )
        .withColumn("_in_base", F.min("_seq").over(by_key) < 0)
        .filter((F.col("_rn") == 1) & ~F.coalesce("_deleted", F.lit(False)))
        .drop("_rn", "_seq", "_deleted")
    )


def _read_buckets(
    spark: SparkSession, path: str, manifest: dict, buckets: list[int] | None
) -> DataFrame:
    """Assemble the table (or just ``buckets``) from the manifest's file
    pointers. A bucket with no manifest entry is EMPTY (sparse
    manifests), never an error; an entirely-empty selection returns a
    typed empty frame from the manifest's recorded schema.

    Buckets with pending merge-on-read deltas route through latest-wins
    resolution; buckets without keep the plain COW scan (no window, no
    shuffle), so a fully-compacted table reads exactly as before MOR
    existed."""
    deltas: dict[str, list] = manifest.get("deltas", {})
    wanted = (
        {str(b) for b in buckets}
        if buckets is not None
        else set(manifest["buckets"]) | set(deltas)
    )
    clean_rels = [
        rel
        for b, rel in manifest["buckets"].items()
        if b in wanted and b not in deltas
    ]
    clean = _union_snap_reads(spark, path, clean_rels)

    delta_buckets = sorted(b for b in wanted if b in deltas)
    resolved = None
    if delta_buckets:
        base_rels = [
            manifest["buckets"][b]
            for b in delta_buckets
            if b in manifest["buckets"]
        ]
        base = _union_snap_reads(spark, path, base_rels)
        # group delta dirs by committing version (one snapshot dir per
        # commit), so the whole pending chain is a handful of reads
        by_seq: dict[int, list[str]] = {}
        for b in delta_buckets:
            for seq, rel in deltas[b]:
                by_seq.setdefault(int(seq), []).append(rel)
        delta_df = None
        for seq in sorted(by_seq):
            d = _union_snap_reads(spark, path, by_seq[seq])
            d = d.withColumn("_seq", F.lit(int(seq)))
            delta_df = (
                d
                if delta_df is None
                else delta_df.unionByName(d, allowMissingColumns=True)
            )
        resolved = _resolve_deltas(base, delta_df, manifest["key"]).drop(
            "_in_base"
        )

    if clean is None and resolved is None:
        return _empty_frame(spark, manifest)
    if clean is None:
        return resolved
    if resolved is None:
        return clean
    return clean.unionByName(resolved, allowMissingColumns=True)


def read_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    where: str | None = None,
) -> DataFrame:
    """The table at ``version`` (default: current), bucket column
    included. With ``where``, the manifest's zone maps prune buckets the
    predicate provably cannot match BEFORE any file is listed or
    scanned (data skipping — the manifest-level analog of Iceberg/Delta
    column stats), and the full predicate is still applied to the
    survivors, so the result is always exactly ``read_table(...)
    .filter(where)``. Pruning is conservative: unsupported predicate
    shapes skip nothing and just filter."""
    manifest = read_manifest(path, version)
    if where is None:
        return _read_buckets(spark, path, manifest, None)
    kept = prune_buckets(manifest, where)
    df = _read_buckets(spark, path, manifest, kept)
    return df.filter(F.expr(where))


def read_table_by_keys(
    spark: SparkSession,
    path: str,
    keys: list,
    version: int | None = None,
) -> DataFrame:
    """Point-lookup path: the bucket hash that PLACED each key also
    FINDS it — ``pmod(xxhash64(key), n_buckets)`` computed driver-side
    selects only the buckets that can hold the requested keys, then an
    in-plan ``isin`` filters the survivors. A k-key lookup on a
    10^12-row table scans ≤ k buckets, not the table."""
    manifest = read_manifest(path, version)
    key = manifest["key"]
    n_buckets = manifest["n_buckets"]
    schema = T.StructType.fromJson(json.loads(manifest["schema"]))
    key_field = next(f for f in schema.fields if f.name == key)
    kdf = local_frame(spark, [(k,) for k in keys], T.StructType([key_field]))
    wanted = sorted(
        r["bucket"]
        for r in with_bucket(kdf, n_buckets, key=key)
        .select("bucket")
        .distinct()
        .collect()
    )
    df = _read_buckets(spark, path, manifest, wanted)
    return df.filter(F.col(key).isin(list(keys)))


def _widened_schema_json(manifest: dict, upd: DataFrame) -> str:
    """The read schema after a widening merge: every existing field in
    its recorded order, then any NEW update columns, bucket last."""
    existing = T.StructType.fromJson(json.loads(manifest["schema"]))
    have = {f.name for f in existing.fields}
    fields = [f for f in existing.fields if f.name != "bucket"]
    for f in upd.schema.fields:
        if f.name not in have and f.name not in ("bucket", "_deleted"):
            fields.append(T.StructField(f.name, f.dataType, True))
    fields.append(T.StructField("bucket", T.IntegerType(), True))
    return json.dumps(T.StructType(fields).jsonValue())


def _dedup_updates(
    updates: DataFrame, key: str, order_col: str | None
) -> DataFrame:
    """Collapse intra-batch duplicate keys deterministically: highest
    ``order_col`` wins, and a content hash breaks residual ties (and
    decides alone without ``order_col``), so a re-run keeps the same
    row. Map columns stay out of the hash — xxhash64 rejects MapType at
    analysis time, and the hash only orders rows already equal on
    ``order_col``, which any non-map column difference still separates."""
    hashable = [
        f.name
        for f in updates.schema.fields
        if not isinstance(f.dataType, T.MapType)
    ]
    order = (
        [F.col(order_col).desc_nulls_last()] if order_col else []
    ) + [F.xxhash64(*[F.col(c) for c in hashable]).desc()]
    w = Window.partitionBy(key).orderBy(*order)
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    order_col: str | None = None,
    delete_where: str | None = None,
    mode: str = "cow",
) -> dict:
    """Keyed MERGE as a real copy-on-write commit: read ONLY touched
    buckets from the base snapshot, resolve, write new files for those
    buckets, commit a new manifest that reuses every untouched bucket's
    existing files.

    Arms (Delta/Iceberg ``MERGE INTO`` correspondence, with
    ``delete_where`` as the matched-clause condition evaluated on the
    UPDATE row):

    - ``WHEN MATCHED AND delete_where THEN DELETE`` — the existing row
      is removed (reference analog: the plane-repair visitor deleting
      emptied records, ``fix_product_id_visit.py:97-106``);
    - ``WHEN MATCHED THEN UPDATE`` — latest wins (``order_col`` breaks
      intra-batch ties);
    - ``WHEN NOT MATCHED AND NOT delete_where THEN INSERT`` — a delete
      marker for a key the table never held is a no-op, as in SQL MERGE.

    A NULL ``delete_where`` result counts as false (keep). A bucket
    emptied by deletes drops out of the manifest (sparse manifests).

    Both modes build the same batch — deduped, bucketed, the delete arm
    folded into a ``_deleted`` tombstone flag — and resolve it with the
    same latest-wins rule (``_resolve_deltas``): COW at write time,
    against the touched buckets; MOR at read time.

    Schema evolution: updates may carry NEW columns (widening) — the
    manifest records the superset schema, and rows written before it
    read back NULL for the new columns (``_read_buckets``). Updates may
    NOT lack a column the manifest records: it would silently NULL
    matched rows' retained values, so it raises instead.

    ``mode="mor"`` (merge-on-read) writes ONLY the batch as per-bucket
    delta file groups appended to the manifest's delta lists: O(batch)
    I/O with no base read, the write path for frequent small batches at
    10^12-row scale. Resolution happens at read time
    (``_read_buckets``); ``compact`` materializes it. A MOR merge
    reports ``delta_rows`` instead of the updated/inserted/deleted
    split (the split requires reading the base — exactly the cost MOR
    exists to avoid; ``snapshot_changes`` recovers it on demand).

    Returns {"version", "base_version", "touched_buckets", "updated",
    "inserted", "deleted"} for COW; {"version", "base_version",
    "touched_buckets", "delta_rows", "mode"} for MOR.
    """
    if mode not in ("cow", "mor"):
        raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
    base = read_manifest(path)
    key = base["key"]
    batch = with_bucket(
        _dedup_updates(updates, key, order_col), base["n_buckets"], key=key
    )
    recorded = {f["name"] for f in json.loads(base["schema"])["fields"]}
    dropped = recorded - {"bucket"} - set(batch.columns)
    if dropped:
        raise ValueError(
            f"updates are missing existing columns {sorted(dropped)}: "
            "column drops are not supported (a latest-wins merge would "
            "silently NULL matched rows' retained values) — carry every "
            "existing column; new columns (widening) are fine"
        )
    is_del = (
        F.lit(False)
        if delete_where is None
        else F.coalesce(F.expr(delete_where).cast("boolean"), F.lit(False))
    )
    # one materialization: the batch feeds the write or the resolve, and
    # the counts
    batch = batch.withColumn("_deleted", is_del).localCheckpoint(eager=True)
    schema = _widened_schema_json(base, batch)
    if mode == "mor":
        return _merge_mor(path, base, batch, schema)
    return _merge_cow(spark, path, base, batch, schema)


def _merge_cow(
    spark: SparkSession, path: str, base: dict, batch: DataFrame, schema: str
) -> dict:
    """The copy-on-write arm: the batch is resolved against the touched
    buckets as the next delta of each, now instead of at read time, and
    the result rewrites those buckets. Rewriting a bucket with pending
    MOR deltas materializes them (the bucket read resolves them)."""
    rows = (
        batch.groupBy("bucket")
        .agg(F.sum((~F.col("_deleted")).cast("long")).alias("live"))
        .collect()
    )
    touched = sorted(int(r["bucket"]) for r in rows)
    if not touched:
        return {
            "version": base["version"],
            "base_version": base["version"],
            "touched_buckets": [],
            "updated": 0,
            "inserted": 0,
            "deleted": 0,
        }
    existing = _read_buckets(spark, path, base, touched)
    n_existing = existing.count()
    resolved = _resolve_deltas(
        existing, batch.withColumn("_seq", F.lit(base["version"] + 1)),
        base["key"],
    ).localCheckpoint(eager=True)
    n_after, n_kept = resolved.agg(
        F.count(F.lit(1)), F.sum(F.col("_in_base").cast("long"))
    ).first()
    n_kept = n_kept or 0
    inserted = n_after - n_kept
    version, _dirs = _commit_rewrite(
        path, base, resolved.drop("_in_base"), touched, schema
    )
    return {
        "version": version,
        "base_version": base["version"],
        "touched_buckets": touched,
        "updated": sum(r["live"] for r in rows) - inserted,
        "inserted": inserted,
        "deleted": n_existing - n_kept,
    }


def _merge_mor(path: str, base: dict, batch: DataFrame, schema: str) -> dict:
    """The merge-on-read arm: write the batch as per-bucket delta file
    groups and append them to the manifest's delta lists — no base read,
    no bucket rewrite, O(batch) I/O end-to-end. A tombstone for a key
    the table never held resolves to nothing at read time — the same
    unmatched-delete-is-a-no-op rule as the COW arm."""
    n_rows = batch.count()
    if n_rows == 0:
        return {
            "version": base["version"],
            "base_version": base["version"],
            "touched_buckets": [],
            "delta_rows": 0,
            "mode": "mor",
        }
    new_version = base["version"] + 1
    _sid, new_dirs, delta_stats = _write_snapshot_files(
        batch, path, base["n_buckets"]
    )
    deltas = {b: list(lst) for b, lst in base.get("deltas", {}).items()}
    for b, rel in new_dirs.items():
        deltas.setdefault(str(b), []).append([new_version, rel])
    # a delta'd bucket's zone map widens to the interval UNION of base
    # and batch (a superset of the post-resolution rows — safe to prune
    # on; compaction recomputes it exactly). A bucket whose BASE rows
    # carry no zone map (pre-stats manifest) must stay unstated — a
    # delta-only interval would describe the batch, not the bucket, and
    # pruning on it could wrongly exclude base rows.
    base_stats = base.get("stats") or {}
    stats = dict(base_stats)
    for b, s in delta_stats.items():
        if b in base_stats:
            stats[b] = _merge_stats_union(base_stats[b], s)
        elif b not in base["buckets"]:
            stats[b] = s  # no base rows: the delta IS the bucket
        # else: pre-stats base bucket — leave unstated (never prunable)
    manifest = {
        "key": base["key"],
        "n_buckets": base["n_buckets"],
        "buckets": dict(base["buckets"]),
        "deltas": deltas,
        "schema": schema,
        "stats": stats,
    }
    _commit(path, manifest, new_version, base_version=base["version"])
    return {
        "version": new_version,
        "base_version": base["version"],
        "touched_buckets": sorted(new_dirs),
        "delta_rows": n_rows,
        "mode": "mor",
    }


# ---------------------------------------------------------------------------
# maintenance: compact + expire (the lakehouse housekeeping pair)
# ---------------------------------------------------------------------------

def compact(
    spark: SparkSession, path: str, min_deltas: int | None = None
) -> dict:
    """Rewrite buckets into a fresh snapshot, MATERIALIZING any pending
    merge-on-read deltas (the read below resolves them) and clearing
    their delta lists — bounds manifest fragmentation after many small
    merges and restores the no-window COW read plan for the rewritten
    buckets. The reference analog is the bulk rewrite maintenance
    visitor (P19, ``plans/maintenance.py``) — committed with the same
    put-if-absent protocol so a concurrent merge cannot be clobbered
    (one of the two wins; the loser retries).

    Default: every bucket (full compaction). ``min_deltas=k``:
    incremental maintenance — rewrite ONLY buckets whose pending delta
    count is ≥ k, carrying every other bucket (and its delta list)
    forward untouched, so steady-state housekeeping at 10^12 rows
    scales with the fragmented fraction, not the table."""
    base = read_manifest(path)
    base_deltas: dict[str, list] = base.get("deltas", {})
    out = {
        "version": base["version"],
        "rewritten_buckets": [],
        "snapshot_dirs_before": len(
            {os.path.dirname(r) for r in base["buckets"].values()}
        ),
    }
    if min_deltas is None:
        targets = sorted(
            int(b) for b in set(base["buckets"]) | set(base_deltas)
        )
    else:
        targets = sorted(
            int(b) for b, lst in base_deltas.items() if len(lst) >= min_deltas
        )
        if not targets:
            return out
    df = _read_buckets(spark, path, base, targets or None)
    # materialize before writing: compaction writes to a FRESH snapshot
    # dir so the scan's source files are never overwritten, but the
    # checkpoint pins the read to the base version even if a concurrent
    # merge commits mid-compact (the commit race is then decided by the
    # put-if-absent protocol, not by a torn scan)
    df = df.localCheckpoint(eager=True)
    # compaction restores exact zone maps for the rewritten buckets
    version, _dirs = _commit_rewrite(
        path, base, df, targets, base.get("schema") or _schema_with_bucket(df)
    )
    return {**out, "version": version, "rewritten_buckets": targets}


def rebucket(spark: SparkSession, path: str, new_n_buckets: int) -> dict:
    """Partition-spec evolution: change the table's bucket count with
    ONE atomic full-rewrite commit — the whole table (pending MOR
    deltas resolved) is re-hashed under the new spec, stats and zone
    maps recomputed, and the new manifest committed with the same
    put-if-absent protocol (a concurrent merge loses cleanly or wins
    cleanly; never a torn spec). Time travel still reads old versions
    under their OWN ``n_buckets`` — every manifest is self-describing.

    Scale note: a full rewrite is the honest cost of re-hashing —
    unlike Iceberg's lazy spec evolution there is no mixed-spec state
    to reason about afterwards, and at bucket-count DOUBLING the
    xxhash64 pmod identity (``hash % 2N ∈ {b, b+N}`` whenever
    ``hash % N == b``) keeps every task's input confined to one old
    bucket, so the rewrite shuffles nothing across old bucket
    boundaries; ``repartitionByRange`` on the new bucket value keeps
    task parallelism = new bucket count. Run it as maintenance, like
    ``compact``."""
    if new_n_buckets < 1:
        raise ValueError("new_n_buckets must be >= 1")
    base = read_manifest(path)
    if new_n_buckets == base["n_buckets"]:
        raise ValueError(
            f"table already has n_buckets={new_n_buckets}; nothing to do"
        )
    df = _read_buckets(spark, path, base, None).drop("bucket")
    df = with_bucket(df, new_n_buckets, key=base["key"])
    df = df.localCheckpoint(eager=True)  # pin the read to the base version
    version, dirs = _commit_rewrite(
        path,
        {**base, "n_buckets": new_n_buckets},
        df,
        None,
        base.get("schema") or _schema_with_bucket(df),
    )
    return {
        "version": version,
        "n_buckets_before": base["n_buckets"],
        "n_buckets": new_n_buckets,
        "buckets_written": sorted(dirs),
    }


def expire_snapshots(path: str, keep_last: int = 2) -> dict:
    """Delete data directories referenced ONLY by manifests older than the
    ``keep_last`` most recent versions, then drop those manifests — the
    vacuum/expire half of lakehouse maintenance. Time travel keeps
    working for retained versions; orphan dirs from crashed commits
    (written but never referenced) are also removed.

    Driver-side filesystem work only — bounded by snapshot-history
    length x bucket count, no Spark job."""
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    # from the versions actually retained, not range(cur, ...): earlier
    # expirations leave gaps, and a missing manifest must not crash the
    # next expiry
    keep_versions = _list_versions(path)[-keep_last:]
    if not keep_versions:
        raise FileNotFoundError(f"no snapshot table at {path}")
    live_dirs: set[str] = set()
    for v in keep_versions:
        m = read_manifest(path, v)
        live_dirs.update(os.path.dirname(rel) for rel in m["buckets"].values())
        for lst in m.get("deltas", {}).values():  # pending MOR deltas are live
            live_dirs.update(os.path.dirname(rel) for _seq, rel in lst)

    data_root = os.path.join(path, "data")
    removed_dirs = []
    for sid in sorted(os.listdir(data_root)) if os.path.isdir(data_root) else []:
        rel = os.path.join("data", sid)
        if rel not in live_dirs:
            shutil.rmtree(os.path.join(path, rel))
            removed_dirs.append(rel)

    removed_manifests = []
    for v in _list_versions(path):
        if v not in keep_versions:
            os.remove(_manifest_path(path, v))
            removed_manifests.append(v)
    return {
        "kept_versions": sorted(keep_versions),
        "removed_snapshot_dirs": removed_dirs,
        "removed_manifest_versions": removed_manifests,
    }


# ---------------------------------------------------------------------------
# change-data-capture: keyed diff between two versions
# ---------------------------------------------------------------------------

def snapshot_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Keyed change set between two retained versions: one row per key
    that was INSERTED, UPDATED, or DELETED, with ``change`` and both
    versions' non-key columns as ``old_<c>`` / ``new_<c>``.

    Scale shape — the copy-on-write layout IS the index: a bucket whose
    manifest entry (file pointer) is IDENTICAL in both versions cannot
    contain a change, so only DIFFERING buckets are read at all (a 0.1%
    merge yields a diff that scans 0.1% of both versions, not two full
    tables). A bucket present in only ONE version (sparse manifests — a
    delete-merge emptied it, or an insert populated it) differs by
    definition and is read from the side that has it. Within those
    buckets the diff is a single full-outer equi-join on the key with a
    row-hash comparison, shuffling only the touched buckets' slim rows.
    """
    m_from = read_manifest(path, from_version)
    m_to = read_manifest(path, to_version)
    key = m_from["key"]
    d_from: dict[str, list] = m_from.get("deltas", {})
    d_to: dict[str, list] = m_to.get("deltas", {})
    all_b = (
        set(m_from["buckets"]) | set(m_to["buckets"]) | set(d_from) | set(d_to)
    )
    # a bucket differs if its base pointer OR its pending-delta chain
    # changed (a MOR merge leaves base pointers untouched — the delta
    # list is where its changes live); compaction changes the base AND
    # clears the chain but the resolved CONTENT is identical, which the
    # row-hash comparison below reports as unchanged
    differing = sorted(
        int(b)
        for b in all_b
        if m_from["buckets"].get(b) != m_to["buckets"].get(b)
        or d_from.get(b) != d_to.get(b)
    )
    if not differing:
        # typed empty frame with the full diff schema
        base = _read_buckets(spark, path, m_to, None).limit(0)
        cols = [c for c in base.columns if c not in (key, "bucket")]
        empty = base.select(
            F.col(key),
            F.lit("unchanged").alias("change"),
            *[F.col(c).alias(f"old_{c}") for c in cols],
            *[F.col(c).alias(f"new_{c}") for c in cols],
        )
        return empty.filter(F.lit(False))
    old = _read_buckets(spark, path, m_from, differing)
    new = _read_buckets(spark, path, m_to, differing)
    # schema evolution: coerce both versions to the superset schema (a
    # widened column reads as NULL on the older side), so a value filled
    # in by a widening merge reports as an update of NULL → value
    old = old.unionByName(new.limit(0), allowMissingColumns=True)
    new = new.unionByName(old.limit(0), allowMissingColumns=True)
    cols = [c for c in old.columns if c not in (key, "bucket")]
    o = old.select(
        F.col(key),
        F.lit(True).alias("_in_old"),
        *[F.col(c).alias(f"old_{c}") for c in cols],
    )
    n = new.select(
        F.col(key),
        F.lit(True).alias("_in_new"),
        *[F.col(c).alias(f"new_{c}") for c in cols],
    )
    joined = o.join(n, on=key, how="full_outer")
    row_eq = None
    for c in cols:
        eq = F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
        row_eq = eq if row_eq is None else (row_eq & eq)
    change = (
        F.when(F.col("_in_old").isNull(), "inserted")
        .when(F.col("_in_new").isNull(), "deleted")
        .when(row_eq if row_eq is not None else F.lit(True), "unchanged")
        .otherwise("updated")
    )
    return (
        joined.withColumn("change", change)
        .filter(F.col("change") != "unchanged")
        .select(
            key,
            "change",
            *[f"old_{c}" for c in cols],
            *[f"new_{c}" for c in cols],
        )
    )
