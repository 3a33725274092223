"""IceTable: a minimal Iceberg-semantics table format over plain parquet.

The north-rule contract is "checkpoint manifests written to Iceberg" with
lineage and time travel; this sandbox ships no Iceberg runtime, so this
module implements the load-bearing subset of the spec's semantics from
scratch (no copied code — the layout mirrors the PUBLIC Iceberg spec's
concepts: snapshot log, manifest list + manifest files, stats-based scan
pruning at both levels):

Layout::

    table/
      data/<commit-uuid>-<n>.parquet        immutable data files
      metadata/manifest-<uuid>.json         immutable MANIFEST FILE: the
                                            per-file entries (path, rows,
                                            per-column min/max/null stats,
                                            partition value, Bloom refs)
                                            for one group of data files
      metadata/snap-<seq 10 digits>.json    snapshot: parent, operation,
                                            schema, and the MANIFEST LIST —
                                            references to manifest files
                                            with per-manifest aggregate
                                            stats, NOT the file entries
      metadata/puffin/*.bloom.json          per-(file, column) Bloom sidecars
      metadata/version-hint.text            current sequence (atomic rename)

Why two metadata levels (the round-3 scale boundary, now closed): with the
file list inline in every snapshot, a 1-file append to a 10^6-file table
re-serializes 10^6 entries — commit cost O(table), metadata O(snapshots ×
files). With a manifest list, an append writes ONE new manifest holding only
its own files plus a snapshot whose manifest list grows by one reference:
commit metadata is O(added files + number of manifests).

Semantics carried over from Iceberg:

- **Atomic commits, snapshot isolation**: data files land first; the
  snapshot JSON is written with EXCLUSIVE CREATE (``open(..., "x")``) so two
  concurrent committers racing for the same sequence number conflict
  explicitly. A losing ``append``/``overwrite`` RE-READS the winner's
  snapshot and rebuilds its manifest list on top of it (optimistic
  concurrency, like Iceberg's metadata-pointer CAS — the winner's files are
  never lost). A losing ``compact`` raises :class:`CommitConflict`
  instead: its rewrite was computed against a snapshot that is no longer
  current, and silently rebasing would drop the racing writer's files.
  The table is append-only: no commit deletes rows in place, so no
  snapshot carries delete files and every read is a plain scan of the
  snapshot's data files. Readers resolve the current
  snapshot via version-hint but fall back to the highest committed snap
  file, so a torn hint is harmless. Uncommitted data files are invisible
  (never listed in any manifest reachable from a snapshot).
- **Time travel**: ``read(spark, seq=...)`` reconstructs any historical file
  list from its manifest list; ``snapshot_log()`` walks the lineage
  (snapshot → parent) with each commit's added files only.
- **Scan pruning, two-level**: each manifest file records per-file column
  min/max/null-count harvested from the parquet FOOTERS; the manifest LIST
  records per-manifest aggregates of the same stats plus the partition
  values it covers. ``plan_files`` prunes whole manifests from the snapshot
  alone (never opening them), then prunes files inside the survivors. At
  100 TB this is the difference between reading 10^6 manifest entries and
  reading 10^2.
- **Schema pinning**: the first commit records the schema DDL; later commits
  must match or explicitly evolve via ``allow_schema_change=True`` (adding
  columns only) — resuming a job with a drifted schema fails loudly. The
  DDL comparison is bracket-aware, so nested types (struct/array/map,
  decimal) evolve correctly.
- **Named refs (tags)**: ``tag(name)`` pins a snapshot under an immutable
  name (``read(spark, tag="v1")`` = VERSION AS OF by name; refs live under
  ``metadata/refs/``).
- **Maintenance**: ``remove_orphans()`` deletes the files no committed
  snapshot references (torn writes, lost commit races); no snapshot is
  ever destroyed, so time travel reaches every committed sequence.

Metadata harvest runs on the driver once the staged files are renamed into
place: per file it reads the parquet footer, writes the Bloom sidecars and
builds the manifest entry. Reading footers costs far less than scheduling a
Spark job to read them.

The checkpointed jobs (jobs/resumable.py, jobs/curate.py) commit each wave
as one ``append`` whose ``extra`` carries the wave record; their per-bucket
metrics feed is a fold over :meth:`snapshot_log`.
"""

from __future__ import annotations

import base64
import hashlib
import json
import math
import re
import os
import shutil
import time
import uuid
from functools import reduce

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# A manifest-list entry stops recording its covered partition values past
# this many distinct values (pruning falls back to the per-file checks).
_MAX_MANIFEST_PARTITIONS = 64


def _file_stats(path: str) -> tuple[int, dict[str, dict], dict[str, int]]:
    """Row count, per-column {min,max,nulls} and per-column null counts from
    the parquet footer (merged across row groups). Columns without footer
    min/max (nested types, binary, all-null) get no ``stats`` entry → never
    pruned on. A top-level column gets a null count (Iceberg's
    ``null_value_counts``) when every row group records one, so an all-null
    column is counted even though it has no ``stats`` entry."""
    meta = pq.ParquetFile(path).metadata
    stats: dict[str, dict] = {}
    nulls: dict[str, int | None] = {}
    for rg in range(meta.num_row_groups):
        g = meta.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            s = col.statistics
            name = col.path_in_schema
            if "." in name:
                continue
            if s is None or not s.has_null_count:
                nulls[name] = None  # a row group without a count: unknown
            elif nulls.get(name, 0) is not None:
                nulls[name] = nulls.get(name, 0) + s.null_count
            if s is None or not s.has_min_max:
                continue
            mn, mx = s.min, s.max
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
                except UnicodeDecodeError:
                    continue
            elif hasattr(mn, "isoformat"):
                # datetime/date → ISO strings: JSON-safe, and lexicographic
                # order equals chronological order so pruning comparisons
                # hold (predicate literals are normalized the same way)
                mn, mx = mn.isoformat(), mx.isoformat()
            cur = stats.get(name)
            if cur is None:
                stats[name] = {"min": mn, "max": mx,
                               "nulls": int(s.null_count or 0)}
            else:
                cur["min"] = min(cur["min"], mn)
                cur["max"] = max(cur["max"], mx)
                cur["nulls"] += int(s.null_count or 0)
    return meta.num_rows, stats, {c: n for c, n in nulls.items()
                                  if n is not None}


class CommitConflict(RuntimeError):
    """Another writer committed first and this commit cannot be rebased
    (compact), or append retries ran out under a writer storm."""


# ---------------------------------------------------------------------------
# Per-file Bloom filters (the Iceberg Puffin-sidecar analogue). min/max stats
# prune range predicates but are USELESS for point lookups on
# high-cardinality unordered keys (uuid-ish conv_ids: every file's [min,max]
# spans the whole keyspace). A per-file Bloom answers "could key k be in this
# file?" with no false negatives — at 10^12 turns it is the difference
# between reading one file and reading the table for `conv_id = X`.
# Stored as sidecar files under metadata/puffin/ (like Iceberg's Puffin
# blobs), NOT inline in the manifests: manifests stay small, sidecars
# load lazily and only for the predicate column.
# ---------------------------------------------------------------------------

_BLOOM_FPP = 0.01


def _bloom_hashes(value: str, m: int, k: int) -> list[int]:
    """k bit indexes via double hashing over the two md5 halves —
    deterministic across processes (no PYTHONHASHSEED dependence)."""
    d = hashlib.md5(value.encode("utf-8")).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1  # odd: full-period stride
    return [(h1 + i * h2) % m for i in range(k)]


def _build_bloom(values: list[str]) -> dict:
    n = max(len(values), 1)
    m = max(64, int(math.ceil(-n * math.log(_BLOOM_FPP) / (math.log(2) ** 2))))
    k = max(1, round(m / n * math.log(2)))
    bits = bytearray((m + 7) // 8)
    for v in values:
        for idx in _bloom_hashes(v, m, k):
            bits[idx >> 3] |= 1 << (idx & 7)
    return {"m": m, "k": k, "fpp": _BLOOM_FPP, "n_values": len(values),
            "bits": base64.b64encode(bytes(bits)).decode("ascii")}


def _bloom_may_contain(bloom: dict, value: str) -> bool:
    bits = bloom["bits"]
    return all(
        bits[idx >> 3] & (1 << (idx & 7))
        for idx in _bloom_hashes(value, bloom["m"], bloom["k"])
    )


# ---------------------------------------------------------------------------
# Metadata harvest, on the driver: parquet footer stats + Bloom sidecar
# construction per new data file.
# ---------------------------------------------------------------------------


def _write_bloom_sidecars(data_dir: str, meta_dir: str, rel: str,
                          cols: list[str]) -> dict[str, str]:
    """One Bloom sidecar per (data file, column) under metadata/puffin/,
    built from the file's DISTINCT values (stringified with str(), the
    same canonicalization plan_files applies to predicate literals).
    Returns {column: sidecar path relative to metadata/}."""
    puffin = os.path.join(meta_dir, "puffin")
    os.makedirs(puffin, exist_ok=True)
    tbl = pq.read_table(os.path.join(data_dir, rel), columns=cols)
    out: dict[str, str] = {}
    for col in cols:
        values = [
            str(v) for v in tbl.column(col).unique().to_pylist()
            if v is not None
        ]
        blob = _build_bloom(values)
        blob["data_file"] = rel
        blob["column"] = col
        side = f"puffin/{rel.replace('/', '__')}.{col}.bloom.json"
        with open(os.path.join(meta_dir, side), "w") as f:
            json.dump(blob, f)
        out[col] = side
    return out


def _harvest_entry(data_dir: str, meta_dir: str, rel: str,
                   partition_by: str | None,
                   bloom_cols: list[str] | None) -> dict:
    """One manifest entry for one committed data file: footer stats, the
    partition value re-derived from the Hive path, Bloom sidecars written
    as a side effect."""
    rows, stats, nulls = _file_stats(os.path.join(data_dir, rel))
    entry: dict = {"path": rel, "rows": rows, "stats": stats,
                   "null_value_counts": nulls}
    if partition_by:
        pdir = rel.split("/", 1)[0]
        entry["partition"] = {partition_by: pdir.split("=", 1)[1]}
    if bloom_cols:
        entry["bloom"] = _write_bloom_sidecars(data_dir, meta_dir, rel,
                                               bloom_cols)
    return entry


def _split_ddl(ddl: str) -> dict[str, str]:
    """{column: type} from a ``name type,name type`` DDL string, splitting
    on commas at bracket depth 0 only — nested types (struct<a:int,b:str>,
    map<...>, decimal(10,2)) contain commas that a naive split would eat."""
    cols: dict[str, str] = {}
    depth, start = 0, 0
    parts: list[str] = []
    for i, ch in enumerate(ddl):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(ddl[start:i])
            start = i + 1
    parts.append(ddl[start:])
    for p in parts:
        name, typ = p.strip().split(" ", 1)
        cols[name] = typ.strip()
    return cols


def _pred_column(col: str, op: str, lit):
    """Predicate as a Column expression — never SQL-string splicing, so
    quote-bearing string literals and reserved-word columns are safe."""
    c = F.col(col)
    if op == "in":
        return c.isin(list(lit))
    if op == "isnull":
        return c.isNull()
    if op == "notnull":
        return c.isNotNull()
    return {"=": c == F.lit(lit), "<": c < F.lit(lit), "<=": c <= F.lit(lit),
            ">": c > F.lit(lit), ">=": c >= F.lit(lit)}[op]


def _norm_lit(lit):
    """Predicate literal in stats space: date/datetime → ISO string, the
    same canonicalization _file_stats applies to footer min/max. An ``in``
    value list normalizes element-wise."""
    if isinstance(lit, (list, tuple, set, frozenset)):
        return [v.isoformat() if hasattr(v, "isoformat") else v for v in lit]
    return lit.isoformat() if hasattr(lit, "isoformat") else lit


def _range_may_match(mn, mx, op, lit) -> bool:
    if op == "in":
        return any(mn <= v <= mx for v in lit)
    return {"=": mn <= lit <= mx,
            "<": mn < lit, "<=": mn <= lit,
            ">": mx > lit, ">=": mx >= lit}[op]


def _merge_entry_stats(entries: list[dict]) -> dict[str, dict]:
    """Per-column {min,max} aggregated across entries — recorded only for
    columns EVERY entry has stats for (a stats-less file must never be
    pruned, so the manifest aggregate may not claim to cover it)."""
    if not entries:
        return {}
    common = set(entries[0]["stats"])
    for e in entries[1:]:
        common &= set(e["stats"])
    return {
        col: {"min": min(e["stats"][col]["min"] for e in entries),
              "max": max(e["stats"][col]["max"] for e in entries),
              "nulls": sum(e["stats"][col].get("nulls", 0)
                           for e in entries)}
        for col in sorted(common)
    }


def _manifest_partitions(entries: list[dict]) -> dict[str, list[str]] | None:
    """Partition values covered by a manifest ({col: sorted values}), or
    None when any entry is unpartitioned or the value set is too large to
    inline in the manifest list."""
    if not entries or any("partition" not in e for e in entries):
        return None
    out: dict[str, set[str]] = {}
    for e in entries:
        for col, val in e["partition"].items():
            out.setdefault(col, set()).add(val)
    if any(len(v) > _MAX_MANIFEST_PARTITIONS for v in out.values()):
        return None
    return {col: sorted(v) for col, v in out.items()}


class IceTable:
    # the snapshot log (snap files, version hint), relative to the table
    # path; a subclass may move it (jobs/resumable.WaveTable)
    SNAPSHOT_DIR = "metadata"

    def __init__(self, path: str) -> None:
        self.path = path
        self.data_dir = os.path.join(path, "data")
        self.meta_dir = os.path.join(path, "metadata")
        self._snap_dir = os.path.join(path, self.SNAPSHOT_DIR)

    # -- snapshot resolution --------------------------------------------

    def _snap_path(self, seq: int) -> str:
        return os.path.join(self._snap_dir, f"snap-{seq:010d}.json")

    def _committed_seqs(self) -> list[int]:
        if not os.path.isdir(self._snap_dir):
            return []
        return sorted(
            int(fn[5:15]) for fn in os.listdir(self._snap_dir)
            if fn.startswith("snap-") and fn.endswith(".json")
        )

    def current_seq(self) -> int:
        """0 = empty table. Version-hint is advisory; the snap files are the
        source of truth (a torn/stale hint self-heals)."""
        seqs = self._committed_seqs()
        return seqs[-1] if seqs else 0

    def _raw_snapshot(self, seq: int | None = None) -> dict:
        """The snapshot JSON as committed: manifest list, NO file entries."""
        seq = self.current_seq() if seq is None else seq
        if seq == 0:
            return {"sequence": 0, "parent": None, "operation": "create",
                    "manifests": [], "schema": None, "snapshot_id": None}
        with open(self._snap_path(seq)) as f:
            return json.load(f)

    def _load_manifest(self, path: str) -> list[dict]:
        """File entries of one manifest — cached per handle (manifests are
        immutable)."""
        cache = getattr(self, "_manifest_cache", None)
        if cache is None:
            cache = self._manifest_cache = {}
        if path not in cache:
            with open(os.path.join(self.meta_dir, path)) as f:
                cache[path] = json.load(f)["entries"]
        return cache[path]

    def _snap_files(self, raw: dict) -> list[dict]:
        """Materialize a snapshot's full file-entry list from its manifests."""
        out: list[dict] = []
        for ref in raw["manifests"]:
            out.extend(self._load_manifest(ref["path"]))
        return out

    def snapshot(self, seq: int | None = None) -> dict:
        """Snapshot dict with the file-entry list materialized under
        ``files`` (resolved from the manifest list; the on-disk snapshot
        stores only manifest references)."""
        raw = self._raw_snapshot(seq)
        raw["files"] = self._snap_files(raw)
        return raw

    def _added_files(self, raw: dict) -> list[dict]:
        """Entries of the data files a snapshot added, from its added
        manifests alone."""
        return [e for m in raw["added_manifests"]
                for e in self._load_manifest(m)]

    def snapshot_log(self, newest_first: bool = False):
        """Walk the snapshot log: each committed snapshot as stored (manifest
        list and commit ``extra``, no file list) with ``added_files``, the
        entries of the manifests that commit added — O(added files) per
        snapshot, never the snapshot's full file list."""
        seqs = self._committed_seqs()
        for seq in reversed(seqs) if newest_first else seqs:
            raw = self._raw_snapshot(seq)
            raw["added_files"] = self._added_files(raw)
            yield raw

    # -- commits ---------------------------------------------------------

    def _write_manifest(self, entries: list[dict]) -> dict:
        """Write one immutable manifest file; return its manifest-list
        reference carrying the aggregates two-level planning prunes on."""
        name = f"manifest-{uuid.uuid4().hex[:16]}.json"
        os.makedirs(self.meta_dir, exist_ok=True)
        with open(os.path.join(self.meta_dir, name), "w") as f:
            json.dump({"entries": entries}, f)
        ref = {"path": name, "n_files": len(entries),
               "rows": sum(e["rows"] for e in entries),
               "stats": _merge_entry_stats(entries)}
        parts = _manifest_partitions(entries)
        if parts is not None:
            ref["partitions"] = parts
        cache = getattr(self, "_manifest_cache", None)
        if cache is None:
            cache = self._manifest_cache = {}
        cache[name] = entries
        return ref

    def _write_data_files(self, df: DataFrame,
                          partition_by: str | None = None,
                          sort_by: list[str] | None = None,
                          sort_files: int | None = None,
                          bloom_cols: list[str] | None = None) -> list[dict]:
        """Stage df as immutable parquet files under data/ (commit-uuid
        prefix — never visible until a manifest reachable from a snapshot
        lists them), then harvest each file's manifest entry (footer stats
        + Bloom sidecars) on the driver.

        With ``partition_by``, files land in Hive-style ``col=value``
        subdirs (Iceberg identity partitioning) and each manifest entry
        records its partition value for exact-match pruning; readers
        re-derive the column from the path (basePath discovery).

        ``sort_by`` range-clusters the write (Spark's global sort = range
        partition + local sort, the Iceberg write-order analogue): each file
        covers a narrow, near-disjoint [min,max] on the sort keys, which is
        what makes footer-stats pruning actually bite on those columns.
        ``bloom_cols`` writes a per-file Bloom sidecar (metadata/puffin/)
        per listed column for point-lookup pruning on keys where min/max
        can't help."""
        os.makedirs(self.data_dir, exist_ok=True)
        commit = uuid.uuid4().hex[:12]
        staging = os.path.join(self.path, f"_staging-{commit}")
        if sort_by:
            # global sort = range partition + local sort; an explicit
            # ``sort_files`` pins the range-partition count (AQE otherwise
            # coalesces small writes into one file, defeating per-file
            # range disjointness)
            df = (
                df.repartitionByRange(sort_files, *sort_by)
                .sortWithinPartitions(*sort_by)
                if sort_files
                else df.sort(*sort_by)
            )
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(staging)
        rels: list[str] = []
        n = 0
        if partition_by:
            # layout: data/<col>=<value>/<commit>-<n>.parquet — the kv dir
            # sits DIRECTLY under basePath (Spark's partition discovery
            # rejects mixed-depth structures), the commit id lives in the
            # file name; files stay immutable across commits
            for pdir in sorted(os.listdir(staging)):
                if not pdir.startswith(f"{partition_by}="):
                    continue
                os.makedirs(os.path.join(self.data_dir, pdir), exist_ok=True)
                for fn in sorted(os.listdir(os.path.join(staging, pdir))):
                    if not fn.endswith(".parquet"):
                        continue
                    rel = f"{pdir}/{commit}-{n:05d}.parquet"
                    os.rename(os.path.join(staging, pdir, fn),
                              os.path.join(self.data_dir, rel))
                    rels.append(rel)
                    n += 1
        else:
            for fn in sorted(os.listdir(staging)):
                if not fn.endswith(".parquet"):
                    continue
                rel = f"{commit}-{n:05d}.parquet"
                os.rename(os.path.join(staging, fn),
                          os.path.join(self.data_dir, rel))
                rels.append(rel)
                n += 1
        shutil.rmtree(staging, ignore_errors=True)
        return [_harvest_entry(self.data_dir, self.meta_dir, rel,
                               partition_by, bloom_cols) for rel in rels]

    def _check_partition_spec(self, prev: dict,
                              partition_by: str | None,
                              allow_spec_change: bool = False) -> None:
        """The partition spec is table metadata (as in Iceberg): a commit
        that silently changes it would corrupt the mixed-layout read, so a
        drift raises unless the caller opts into PARTITION EVOLUTION
        (``allow_spec_change=True``, Iceberg's spec-evolution semantics):
        existing files keep their old layout forever, new files land under
        the new spec, and the readers split the two eras (Hive-layout files
        derive the partition column from the path; pre-evolution files
        carry it in the data) and union them."""
        if prev["manifests"]:
            prev_spec = prev.get("partition_by")
            if prev_spec != partition_by and not allow_spec_change:
                raise ValueError(
                    f"partition spec drift: table uses partition_by="
                    f"{prev_spec!r}, commit brings {partition_by!r}; pass "
                    "allow_spec_change=True to evolve the spec"
                )

    def _check_schema(self, prev: dict, ddl: str, allow_change: bool) -> str:
        if prev["schema"] is None or prev["schema"] == ddl:
            return ddl
        if not allow_change:
            raise ValueError(
                f"schema drift: table has [{prev['schema']}], commit brings "
                f"[{ddl}]; pass allow_schema_change=True to evolve (add-only)"
            )
        prev_cols = _split_ddl(prev["schema"])
        new_cols = _split_ddl(ddl)
        for name, typ in prev_cols.items():
            if new_cols.get(name) != typ:
                raise ValueError(
                    f"schema evolution may only ADD columns: existing column "
                    f"{name} changed or dropped"
                )
        return ddl

    def _commit(self, operation: str, added: list[dict], schema: str,
                manifests_fn, retries: int = 5, extra: dict | None = None,
                planned_parent: tuple | None = None) -> dict:
        """Optimistic-concurrency commit. ``manifests_fn(parent_raw)`` builds
        the manifest list ON TOP OF the parent observed in that attempt — a
        retried append therefore carries the racing winner's manifests
        instead of silently dropping them. A rewrite whose manifest list was
        computed from a SPECIFIC parent (compact) passes
        ``planned_parent=(sequence, snapshot_id)`` of the snapshot it planned
        against; if the parent observed at commit time differs — even when
        no same-sequence file collision occurs, i.e. a writer landed between
        planning and commit — :class:`CommitConflict` is raised instead of
        silently dropping the racing writer's files."""
        os.makedirs(self.meta_dir, exist_ok=True)
        os.makedirs(self._snap_dir, exist_ok=True)
        for _ in range(retries):
            seq = self.current_seq() + 1
            parent = self._raw_snapshot(seq - 1)
            if planned_parent is not None and (
                    (parent.get("sequence", 0), parent.get("snapshot_id"))
                    != tuple(planned_parent)):
                raise CommitConflict(
                    f"{operation} on {self.path} planned against snapshot "
                    f"{planned_parent[1]} (seq {planned_parent[0]}) but the "
                    f"current parent is {parent.get('snapshot_id')} (seq "
                    f"{parent.get('sequence', 0)}); a concurrent writer "
                    f"committed since planning — re-plan against the current "
                    f"snapshot"
                )
            snap = {
                "sequence": seq,
                "snapshot_id": uuid.uuid4().hex[:16],
                "parent": parent["snapshot_id"],
                "operation": operation,
                "schema": schema,
                "added": [f["path"] for f in added],
                "manifests": manifests_fn(parent),
                "ts_ms": int(time.time() * 1000),
                **(extra or {}),
            }
            try:
                # exclusive create = the CAS: exactly one writer wins seq
                with open(self._snap_path(seq), "x") as f:
                    json.dump(snap, f)
            except FileExistsError:
                if planned_parent is not None:
                    raise CommitConflict(
                        f"{operation} on {self.path} planned against seq "
                        f"{seq - 1} but a concurrent writer committed seq "
                        f"{seq}; re-plan against the current snapshot"
                    ) from None
                continue  # lost the race — rebase on the winner and retry
            hint_tmp = os.path.join(self._snap_dir, "version-hint.tmp")
            with open(hint_tmp, "w") as f:
                f.write(str(seq))
            os.rename(hint_tmp,
                      os.path.join(self._snap_dir, "version-hint.text"))
            snap["files"] = self._snap_files(snap)  # in memory only
            return snap
        raise CommitConflict(
            f"lost {retries} commit races on {self.path}; concurrent writer storm"
        )

    def append(self, df: DataFrame, allow_schema_change: bool = False,
               extra: dict | None = None,
               partition_by: str | None = None,
               sort_by: list[str] | None = None,
               sort_files: int | None = None,
               bloom_cols: list[str] | None = None,
               allow_spec_change: bool = False) -> dict:
        """Append-files commit (Iceberg ``append``): new snapshot = parent's
        manifests + one new manifest holding this df's files — commit
        metadata is O(added files), never O(table). ``partition_by`` =
        identity partitioning (Hive-layout files, per-file partition value
        in the manifest); ``sort_by`` = write-order clustering (tight
        per-file min/max); ``bloom_cols`` = per-file Bloom sidecars for
        point-lookup pruning. The manifest is written once, before the
        commit: a rebased attempt reuses it, so a lost race leaves no
        manifest behind."""
        prev = self._raw_snapshot()
        ddl = self._check_schema(prev, _ddl(df), allow_schema_change)
        self._check_partition_spec(prev, partition_by, allow_spec_change)
        added = self._write_data_files(df, partition_by=partition_by,
                                       sort_by=sort_by, sort_files=sort_files,
                                       bloom_cols=bloom_cols)
        refs = [self._write_manifest(added)] if added else []

        def manifests_fn(parent: dict) -> list[dict]:
            # re-validate against the parent ACTUALLY observed this attempt:
            # a rebase onto a racing winner must satisfy the same invariants
            self._check_schema(parent, ddl, allow_schema_change)
            self._check_partition_spec(parent, partition_by, allow_spec_change)
            return parent["manifests"] + refs

        extra = {**(extra or {}),
                 "added_manifests": [r["path"] for r in refs],
                 "partition_by": partition_by, "sort_by": sort_by}
        return self._commit("append", added, ddl, manifests_fn, extra=extra)

    def overwrite(self, df: DataFrame, allow_schema_change: bool = False,
                  sort_by: list[str] | None = None,
                  sort_files: int | None = None,
                  bloom_cols: list[str] | None = None) -> dict:
        """Replace-all commit (Iceberg ``overwrite``): new snapshot lists
        ONLY this df's manifest. Old files stay on disk for time travel.
        ``sort_by``/``sort_files``/``bloom_cols`` as in :meth:`append`;
        left unset, the table's previous sort order is reapplied so a
        versioned table (e.g. publish_curated) keeps its clustering across
        versions without every caller re-stating it. A lost commit race
        retries cleanly: overwrite replaces whatever is current."""
        prev = self._raw_snapshot()
        ddl = self._check_schema(prev, _ddl(df), allow_schema_change)
        has_data = bool(prev["manifests"])
        spec = prev.get("partition_by") if has_data else None
        if sort_by is None and has_data:
            sort_by = prev.get("sort_by")
        added = self._write_data_files(df, partition_by=spec,
                                       sort_by=sort_by, sort_files=sort_files,
                                       bloom_cols=bloom_cols)
        refs = [self._write_manifest(added)] if added else []
        return self._commit("overwrite", added, ddl, lambda _parent: refs,
                            extra={"added_manifests": [r["path"] for r in refs],
                                   "partition_by": spec, "sort_by": sort_by})

    def compact(self, spark: SparkSession, target_files: int = 1) -> dict:
        """Small-file compaction (Iceberg ``rewrite_data_files``): rewrite
        the CURRENT file list into ``target_files`` files in one replace
        commit. Data is bit-identical; old files stay for time travel. At
        100 TB a streaming ingest lands thousands of per-trigger files —
        without periodic compaction, scan planning and footer reads dominate
        query latency long before the data does."""
        prev = self.snapshot()
        if not prev["files"]:
            return prev
        spec = prev.get("partition_by")
        df = self._read_files(
            spark, prev["schema"], prev["files"]).coalesce(target_files)
        added = self._write_data_files(df, partition_by=spec)
        refs = [self._write_manifest(added)] if added else []
        return self._commit("replace", added, prev["schema"],
                            lambda _parent: refs,
                            planned_parent=(prev.get("sequence", 0),
                                            prev.get("snapshot_id")),
                            extra={"added_manifests": [],
                                   "partition_by": spec})

    def append_epoch(self, df: DataFrame, query_tag: str, epoch_id: int,
                     **append_kw) -> bool:
        """Epoch-guarded :meth:`append`: the commit records (query_tag,
        epoch_id), and an epoch at or below the newest one already committed
        under ``query_tag`` is detected against the snapshot log and skipped
        (returns False) — a retried epoch lands its rows exactly once."""
        for s in self.snapshot_log(newest_first=True):
            if s.get("stream_query") == query_tag:
                if int(s["stream_epoch"]) >= int(epoch_id):
                    return False  # retried epoch: already committed
                break
        self.append(df, extra={"stream_query": query_tag,
                               "stream_epoch": int(epoch_id)}, **append_kw)
        return True

    def streaming_sink(self, query_tag: str = "stream"):
        """foreachBatch sink with exactly-once semantics over retried
        micro-batches: each batch is an :meth:`append_epoch`, so a retried
        epoch (Structured Streaming re-runs a batch after failure BEFORE the
        checkpoint advances) is skipped and rows land exactly once even
        though foreachBatch itself is at-least-once. Usage::

            stream.writeStream.foreachBatch(tbl.streaming_sink("extract"))
        """
        return lambda batch_df, epoch_id: self.append_epoch(
            batch_df, query_tag, epoch_id)

    def remove_orphans(self, dry_run: bool = False) -> dict:
        """Iceberg ``remove_orphan_files``: find (and unless ``dry_run``,
        delete) physical files under the table location that NO committed
        snapshot references. Orphans accumulate from torn writes and lost
        optimistic-commit races — the loser of a commit race rebases, but
        the data files and manifests of its failed attempt are never
        referenced by any snapshot (see ``_commit``). Orphan removal never
        changes what ANY snapshot reads — safe on a live table, and at
        100 TB it is routine maintenance after crashed writer fleets."""
        # data-file rels, Bloom-sidecar rels and manifest filenames that
        # any committed snapshot references
        live: set[str] = set()
        live_sidecars: set[str] = set()
        live_manifests: set[str] = set()
        for seq in self._committed_seqs():
            raw = self._raw_snapshot(seq)
            live_manifests.update(m["path"] for m in raw["manifests"])
            for f in self._snap_files(raw):
                live.add(f["path"])
                live_sidecars.update((f.get("bloom") or {}).values())
        orphan_data: list[str] = []
        if os.path.isdir(self.data_dir):
            for root, _dirs, files in os.walk(self.data_dir):
                for fn in files:
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, self.data_dir)
                    if rel not in live:
                        orphan_data.append(rel)
        puffin = os.path.join(self.meta_dir, "puffin")
        orphan_sidecars = [
            fn for fn in (os.listdir(puffin) if os.path.isdir(puffin) else [])
            if f"puffin/{fn}" not in live_sidecars
        ]
        orphan_manifests = [
            fn for fn in os.listdir(self.meta_dir)
            if fn.startswith("manifest-") and fn.endswith(".json")
            and fn not in live_manifests
        ]
        if not dry_run:
            for rel in orphan_data:
                os.remove(os.path.join(self.data_dir, rel))
            for root, _dirs, files in os.walk(self.data_dir, topdown=False):
                if not os.listdir(root) and root != self.data_dir:
                    os.rmdir(root)
            for fn in orphan_sidecars:
                os.remove(os.path.join(puffin, fn))
            for fn in orphan_manifests:
                os.remove(os.path.join(self.meta_dir, fn))
        return {
            "orphan_data_files": sorted(orphan_data),
            "orphan_sidecars": sorted(orphan_sidecars),
            "orphan_manifests": sorted(orphan_manifests),
            "n_orphans": (len(orphan_data) + len(orphan_sidecars)
                          + len(orphan_manifests)),
            "dry_run": dry_run,
        }

    # -- named refs (Iceberg tags) ----------------------------------------

    @property
    def _refs_dir(self) -> str:
        return os.path.join(self.meta_dir, "refs")

    def tag(self, name: str, seq: int | None = None) -> dict:
        """Create an immutable named snapshot ref (Iceberg tag): a version
        a consumer can read by name ('v1', 'prod') while the table moves on
        — 'pin the corpus a model trained on'. Exclusive-create: re-tagging
        an existing name raises."""
        if not re.fullmatch(r"[A-Za-z0-9._-]{1,64}", name):
            raise ValueError(f"bad tag name {name!r}")
        seq = self.current_seq() if seq is None else seq
        self._raw_snapshot(seq)  # must exist
        os.makedirs(self._refs_dir, exist_ok=True)
        ref = {"name": name, "seq": seq,
               "ts_ms": int(time.time() * 1000)}
        with open(os.path.join(self._refs_dir, f"{name}.json"), "x") as f:
            json.dump(ref, f)
        return ref

    def tags(self) -> dict[str, int]:
        """{tag name: snapshot seq} for all named refs."""
        if not os.path.isdir(self._refs_dir):
            return {}
        out = {}
        for fn in sorted(os.listdir(self._refs_dir)):
            if fn.endswith(".json"):
                with open(os.path.join(self._refs_dir, fn)) as f:
                    ref = json.load(f)
                out[ref["name"]] = ref["seq"]
        return out

    # -- reads -----------------------------------------------------------

    def _paths(self, files: list[dict]) -> list[str]:
        return [os.path.join(self.data_dir, f["path"]) for f in files]

    def _reader(self, spark: SparkSession, schema: str):
        """basePath keeps Hive-partition discovery working on explicit file
        lists, so identity-partition columns re-derive from the path; it is
        harmless for unpartitioned files."""
        return spark.read.schema(schema).option("basePath", self.data_dir)

    def _read_files(self, spark: SparkSession, schema: str,
                    files: list[dict]) -> DataFrame:
        """Read an explicit manifest-entry list, PARTITION-EVOLUTION-safe:
        Hive-layout entries (they carry a manifest partition value) derive
        the partition column from the path via basePath discovery;
        pre-evolution flat entries carry the column in the data and read
        without basePath (Spark rejects a single mixed-depth read). The two
        eras union by name — one extra scan node, no shuffle."""
        hive = [f for f in files if f.get("partition")]
        flat = [f for f in files if not f.get("partition")]
        parts = []
        if flat:
            parts.append(
                spark.read.schema(schema).parquet(*self._paths(flat)))
        if hive:
            parts.append(
                self._reader(spark, schema).parquet(*self._paths(hive)))
        df = parts[0]
        for extra_df in parts[1:]:
            df = df.unionByName(extra_df)
        return df

    def read(self, spark: SparkSession, seq: int | None = None,
             tag: str | None = None) -> DataFrame:
        """Snapshot read (current, time travel to ``seq``, or a named
        ``tag`` — VERSION AS OF semantics by name)."""
        if tag is not None:
            if seq is not None:
                raise ValueError("pass seq or tag, not both")
            refs = self.tags()
            if tag not in refs:
                raise ValueError(f"no such tag {tag!r}")
            seq = refs[tag]
        snap = self.snapshot(seq)
        if not snap["files"]:
            return spark.createDataFrame([], schema=snap["schema"] or "dummy int")
        return self._read_files(spark, snap["schema"], snap["files"])

    def _bloom_cache_get(self):
        cache = getattr(self, "_bloom_cache", None)
        if cache is None:
            cache = self._bloom_cache = {}
        return cache

    def _load_bloom(self, side: str) -> dict:
        cache = self._bloom_cache_get()
        if side not in cache:
            with open(os.path.join(self.meta_dir, side)) as f:
                blob = json.load(f)
            # decode once per table handle: planning probes every candidate
            # file's sidecar, so per-probe b64 decode would be O(files) work
            # repeated per predicate
            blob["bits"] = base64.b64decode(blob["bits"])
            cache[side] = blob
        return cache[side]

    def _manifest_may_match(self, ref: dict, predicate: tuple) -> bool:
        """Manifest-level survival test from the manifest-LIST aggregates
        alone (no manifest load): covered partition values, then aggregate
        min/max. Conservative: missing metadata always survives."""
        col, op, lit = predicate
        if op in ("isnull", "notnull"):
            s = (ref.get("stats") or {}).get(col)
            if op == "isnull" and s is not None and s.get("nulls", 1) == 0:
                return False  # zero nulls across every file in the manifest
            return True
        parts = ref.get("partitions") or {}
        if col in parts:
            if op == "=" and str(lit) not in parts[col]:
                return False
            if op == "in" and not {str(v) for v in lit} & set(parts[col]):
                return False
            return True
        s = (ref.get("stats") or {}).get(col)
        if s is None:
            return True
        return _range_may_match(s["min"], s["max"], op, _norm_lit(lit))

    def _file_may_match(self, f: dict, predicate: tuple) -> bool:
        """Conservative single-predicate survival test for one manifest
        entry: identity-partition value, then Bloom sidecar (equality on a
        bloom_cols column — the point-lookup path min/max can't serve), then
        footer min/max. A file with no usable metadata always survives."""
        col, op, lit = predicate
        if op in ("isnull", "notnull"):
            # null pruning from the footer null counts: nulls == 0 means no
            # IS NULL row can exist in this file. notnull stays conservative
            # (an all-null column records no min/max, hence no stats entry).
            s = f["stats"].get(col)
            if op == "isnull" and s is not None and s.get("nulls", 1) == 0:
                return False
            return True
        part = f.get("partition") or {}
        if col in part:
            # identity-partition pruning: exact (set-)match only; range ops
            # on the dir-string would be lexicographic lies for numeric
            # values, so they conservatively keep the file
            if op == "=":
                return part[col] == str(lit)
            if op == "in":
                return part[col] in {str(v) for v in lit}
            return True
        if op == "=":
            side = (f.get("bloom") or {}).get(col)
            if side is not None and not _bloom_may_contain(
                    self._load_bloom(side), str(lit)):
                return False  # definite miss: no false negatives
        elif op == "in":
            side = (f.get("bloom") or {}).get(col)
            if side is not None and not any(
                    _bloom_may_contain(self._load_bloom(side), str(v))
                    for v in lit):
                return False
        s = f["stats"].get(col)
        if s is None:
            return True
        return _range_may_match(s["min"], s["max"], op, _norm_lit(lit))

    def plan(self, predicate=None, seq: int | None = None) -> dict:
        """Two-level scan planning detail: ``{"files", "pruned_files",
        "scanned_manifests", "pruned_manifests"}``. A pruned manifest is
        dropped from the snapshot's manifest-list aggregates alone — its
        file entries are never read; its files count as pruned."""
        raw = self._raw_snapshot(seq)
        preds = ([] if predicate is None
                 else predicate if isinstance(predicate, list)
                 else [predicate])
        keep: list[dict] = []
        pruned_files = scanned_m = pruned_m = 0
        for ref in raw["manifests"]:
            if preds and not all(self._manifest_may_match(ref, p)
                                 for p in preds):
                pruned_m += 1
                pruned_files += ref["n_files"]
                continue
            scanned_m += 1
            for f in self._load_manifest(ref["path"]):
                if all(self._file_may_match(f, p) for p in preds):
                    keep.append(f)
                else:
                    pruned_files += 1
        return {"files": keep, "pruned_files": pruned_files,
                "scanned_manifests": scanned_m, "pruned_manifests": pruned_m}

    def plan_files(self, predicate=None,
                   seq: int | None = None) -> tuple[list[dict], int]:
        """Manifest-level scan planning: (surviving files, pruned count).
        ``predicate`` = (column, op, literal) with op in =, <, <=, >, >=,
        in (literal = a value list) — or a LIST of such triples, conjunctive
        (a file survives only if it may match EVERY predicate). Conservative: a file with no stats for a
        column always survives that predicate. See :meth:`plan` for the
        manifest-level pruning detail."""
        p = self.plan(predicate, seq)
        return p["files"], p["pruned_files"]

    def scan(self, spark: SparkSession,
             predicate=None,
             seq: int | None = None) -> DataFrame:
        """Pruned snapshot read: manifests excluded by their list-level
        aggregates and files excluded by manifest metadata (partition
        values, Bloom sidecars, footer min/max) are never given to Spark
        (manifest pruning ABOVE the engine's own row-group pushdown).
        ``predicate`` = one (col, op, lit) triple or a conjunctive list.
        Each predicate is re-applied as a real Column-expression filter so
        results are exact, and Catalyst still pushes it into the surviving
        scans."""
        keep, _pruned = self.plan_files(predicate, seq)
        raw = self._raw_snapshot(seq)
        if not keep:
            return spark.createDataFrame([], schema=raw["schema"] or "dummy int")
        df = self._read_files(spark, raw["schema"], keep)
        if predicate is not None:
            preds = predicate if isinstance(predicate, list) else [predicate]
            df = df.where(reduce(
                lambda a, b: a & b,
                (_pred_column(col, op, lit) for col, op, lit in preds)))
        return df


def _ddl(df: DataFrame) -> str:
    return ",".join(f"{f.name} {f.dataType.simpleString()}"
                    for f in df.schema.fields)
