"""Versioned tables: a minimal transactional commit log over parquet —
snapshot isolation, time travel, restore, vacuum.

The reference gets these properties from Snowflake (every dynamic
table is transactional and time-travelable, ``dbt_project.yml``
materializations); a warehouse of bare parquet directories has none of
them — an overwrite torn by a crash corrupts readers, and there is no
"as of yesterday". This module adds the Delta/Iceberg-shaped core
without those libraries (not in the container, and the mechanism is
worth owning: it needs nothing but a POSIX filesystem with atomic
``link(2)``):

- A table is a directory: immutable data snapshots ``data-<uuid>/``
  plus a ``_log/`` of JSON entries, one per version.
- **The atomic commit point is a create-if-absent**
  (``CommitProtocol``, ``HardLinkCommit`` by default) publishing a
  staged JSON as ``_log/<version>.json`` via ``link(2)``-EEXIST —
  losing the race means the version was taken, and optimistic
  concurrency re-stages against the next number. Data files are
  written BEFORE the log entry, so a half-written snapshot is simply
  never referenced (crash garbage, reclaimed by ``vacuum``).
- **Readers resolve a version once** (at ``read()``/``as_of()``) and
  only ever touch that snapshot's immutable directory — writers never
  block readers, and a reader's DataFrame stays valid across later
  commits. That is why ``Runner.merge_refresh`` lands deltas on
  versioned tables only: the merge reads the snapshot it replaces,
  and the new commit is the publish.
- ``restore(v)`` is a NEW commit whose entry points at the old
  snapshot directory (history is append-only, like Delta RESTORE);
  ``vacuum`` drops snapshot dirs unreferenced by the kept tail of the
  log.

Each decision is coded once: ``_snapshot`` resolves a version,
``_write_snapshot`` writes a data directory, ``_cas`` is the retry
loop of every commit derived from a base version, ``_skipping`` and
``_lineage_skipping`` derive the stats/Bloom manifests, and
``_prune_files`` is the file-skipping rule behind every ``read_where*``.

At 100 TB the same design holds: commits are O(1) metadata (the data
write is the same parquet job a bare table needs — snapshots here are
copy-on-write per commit, and an incremental writer commits only the
merged model it rewrote), and log resolution reads one directory
listing plus one small JSON.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

_LOG = "_log"

#: Attempts of every commit loop before ``CommitConflict`` surfaces.
_MAX_RETRIES = 10


class CommitConflict(RuntimeError):
    """Another writer took the version we staged (surfaced only after
    max retries)."""


# ---------------------------------------------------------------------------
# the commit protocol seam: everything transactional in this layer
# reduces to ONE primitive — atomically make the entry file exist with
# its full content IFF no entry of that name exists yet. link(2) gives
# it on a POSIX filesystem (HardLinkCommit, the only implementation);
# the seam is where the crash tests inject writers that die on either
# side of the commit point. Reference context: the reference repo gets
# this property from Snowflake's metadata service (dbt_project.yml
# dynamic-table materializations).


class CommitProtocol:
    """Atomic create-if-absent of a commit-log entry."""

    name = "abstract"

    def publish(self, staged: str, final: str) -> bool:
        """Make ``final`` exist with ``staged``'s full content iff no
        ``final`` exists; True on success, False when the version was
        already taken. Callers must treat the staged file as
        disposable either way. Content must appear atomically with the
        name: a concurrent reader must never observe a torn entry."""
        raise NotImplementedError


class HardLinkCommit(CommitProtocol):
    """link(2) as CAS: atomic, content-complete (the staged file is
    fully written and closed first), EEXIST loses the race."""

    name = "hardlink"

    def publish(self, staged: str, final: str) -> bool:
        try:
            os.link(staged, final)
            return True
        except FileExistsError:
            return False


def _json_stat(v):
    """Footer stat → JSON-storable value preserving ORDER: ints/floats
    pass through, everything orderable-but-not-JSON (dates, decimals)
    becomes its ISO/str form — which sorts identically for the types we
    accept. None for types whose str() does not order (unsupported)."""
    import datetime
    import decimal

    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    return None


def _parquet_relpaths(data_dir: str) -> list[str]:
    """All ``*.parquet`` under ``data_dir``, as sorted paths RELATIVE
    to it — recursive, so ``partitionBy`` layouts (part files nested
    under ``key=value/`` subdirectories) enumerate correctly. Relpaths
    are the canonical file key in stats/bloom manifests: basenames are
    NOT unique under dynamic partitioning (one task writes the same
    ``part-NNNNN-<jobUUID>`` name into every partition dir it sees)."""
    out = []
    for root, _dirs, names in os.walk(data_dir):
        rel = os.path.relpath(root, data_dir)
        for name in names:
            if name.endswith(".parquet"):
                out.append(
                    name if rel == "." else os.path.join(rel, name)
                )
    return sorted(out)


def _file_stats(data_dir: str, cols: list[str]) -> dict:
    """Per-file {col: [min, max, null_count]} from parquet FOOTERS —
    driver-side metadata only (one footer read per file, no data scan).
    A file whose footer lacks usable stats for a column maps that
    column to None → ``read_where`` must conservatively keep it.
    Files are keyed by path relative to ``data_dir`` (recursive, so
    partitioned layouts get stats too; partition columns live in the
    directory names, not footers, and surface as no-stats)."""
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for name in _parquet_relpaths(data_dir):
        md = pq.ParquetFile(os.path.join(data_dir, name)).metadata
        idx = {md.schema.column(i).path: i
               for i in range(md.num_columns)}
        fstats: dict = {}
        for col in cols:
            if col not in idx:
                fstats[col] = None
                continue
            lo = hi = None
            nulls = 0
            ok = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[col]).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                mn, mx = _json_stat(st.min), _json_stat(st.max)
                if mn is None or mx is None:
                    ok = False
                    break
                lo = mn if lo is None or mn < lo else lo
                hi = mx if hi is None or mx > hi else hi
                nulls += st.null_count or 0
            fstats[col] = [lo, hi, nulls] if ok else None
        out[name] = fstats
    return out


#: Bloom sidecar defaults: 8192 bits / 4 md5-derived probes per value
#: → ~0.04% false-positive rate at 300 distinct values per file; words
#: hold 32 bits each so every manifest integer stays positive.
_BLOOM_BITS = 8192
_BLOOM_HASHES = 4
_BLOOM_WORD = 32


def _bloom_positions(value, bits: int, hashes: int) -> list[int]:
    """Driver-side twin of the executor hash: position_i =
    md5(\"{i}:\" || str(value))[:8] as int, mod bits. Values are keyed
    by their STRING rendering (int/str columns round-trip identically
    in Spark's cast-to-string and Python's str)."""
    import hashlib

    return [
        int(
            hashlib.md5(f"{i}:{value}".encode()).hexdigest()[:8], 16
        ) % bits
        for i in range(hashes)
    ]


#: Spark types whose cast-to-string rendering is IDENTICAL to
#: Python's str() of the probe value — the invariant the Bloom
#: bitmaps depend on. bool ('true' vs 'True'), float ('1.0E20' vs
#: '1e+20') and timestamps (tz/format drift) all violate it, so they
#: are REJECTED at commit time instead of silently mispruning.
_BLOOM_SAFE_TYPES = ("byte", "short", "int", "integer", "long",
                     "bigint", "string")


def _check_bloom_col_types(df: DataFrame, cols: list[str]) -> None:
    """Enforce the int/string-only Bloom contract at commit time
    (ADVICE r8): any other type renders differently between the
    executor-side cast-to-string and the driver-side str(probe), so
    a bitmap built on it would prune files that DO contain the probe
    value — a silent wrong-answer, not a slow path."""
    by_name = {f.name: f.dataType for f in df.schema.fields}
    for col in cols:
        if col not in by_name:
            raise ValueError(f"bloom_cols: no column {col!r}")
        if by_name[col].simpleString() not in _BLOOM_SAFE_TYPES:
            raise TypeError(
                f"bloom_cols[{col!r}] has type "
                f"{by_name[col].simpleString()}: Bloom skipping "
                "supports integral/string columns only (other types' "
                "string renderings differ between Spark executors "
                "and the driver-side probe hash, which would prune "
                "files that actually contain the value)"
            )


def _check_bloom_probe(col: str, value) -> None:
    """The read-side twin of ``_check_bloom_col_types``: probe values
    must be int (not bool) or str so ``str(value)`` matches the
    executor rendering the bitmaps were built from."""
    if isinstance(value, bool) or not isinstance(value, (int, str)):
        raise TypeError(
            f"Bloom probe on {col!r} must be int or str, got "
            f"{type(value).__name__}: other types hash differently "
            "than the stored bitmaps and would prune wrongly"
        )


def _bloom_has_col(bloom: dict | None, col: str) -> bool:
    """True iff the commit's Bloom manifest carries a bitmap for
    ``col`` in at least one file. The probe-type contract
    (``_check_bloom_probe``) is only enforced when this holds
    (ADVICE r9): equality reads with date/decimal/float probes on
    stats-only or metadata-free tables must keep working as
    full-scan-plus-filter, since no bitmap can misprune them."""
    return any(
        (fb or {}).get(col) is not None for fb in (bloom or {}).values()
    )


def _bloom_stats(
    spark: SparkSession,
    data_dir: str,
    cols: list[str],
    bits: int = _BLOOM_BITS,
    hashes: int = _BLOOM_HASHES,
    schema=None,
) -> dict:
    """Per-file Bloom bitmaps for ``cols``: one column-pruned scan of
    the just-written files (parquet reads ONLY the bloom columns +
    the _metadata file name), bitmap OR-folded executor-side via
    ``bit_or`` so the driver collects ≤ files·bits/{word} small rows —
    manifest-sized metadata, never data. Every file gets an entry
    (files whose column is entirely NULL carry an empty bitmap, which
    correctly proves equality-absence: NULL never equals a probe).
    Files are keyed by path relative to ``data_dir`` (recursive —
    same manifest key as ``_file_stats``, correct under
    ``partitionBy`` layouts where basenames collide)."""
    from pyspark.sql import functions as F

    reader = spark.read if schema is None else spark.read.schema(schema)
    base = reader.parquet(data_dir).select(
        F.col("_metadata.file_path").alias("__f"),
        *[F.col(c) for c in cols],
    )
    files = _parquet_relpaths(data_dir)
    out: dict[str, dict] = {
        name: {
            c: {"bits": bits, "k": hashes, "words": {}} for c in cols
        }
        for name in files
    }
    abs_dir = os.path.realpath(data_dir)

    def _rel(file_path: str) -> str:
        # _metadata.file_path is a URI (file:/...) — percent-encoded
        # (a space in the table root) and possibly symlink-resolved,
        # so decode it properly and relativize against the REAL path
        # of data_dir to recover the manifest key (ADVICE r9).
        from urllib.parse import unquote, urlparse

        parsed = urlparse(file_path)
        p = unquote(parsed.path) if parsed.scheme else file_path
        return os.path.relpath(os.path.realpath(p), abs_dir)
    def _pos(c: str):
        return F.array(*[
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(f"{i}:"), F.col(c).cast("string")
                        )
                    ),
                    1, 8,
                ),
                16, 10,
            ).cast("long") % bits
            for i in range(hashes)
        ])

    # ONE job for ALL bloom columns (a multi-column layout used to pay
    # one scan per column): stack each column's position array behind a
    # column tag, explode once, and OR-fold per (file, col, word). The
    # stacked row count is rows·cols·hashes pre-combine, but bit_or is
    # map-side combined, so the shuffle stays ≤ files·cols·bits/word.
    stacked = base.select(
        "__f",
        F.explode(F.array(*[
            F.struct(
                F.lit(c).alias("__c"),
                F.when(F.col(c).isNotNull(), _pos(c)).alias("__ps"),
            )
            for c in cols
        ])).alias("__s"),
    ).select(
        "__f", F.col("__s.__c").alias("__c"),
        F.explode("__s.__ps").alias("__p"),
    )
    rows = (
        stacked.select(
            "__f", "__c",
            F.expr(f"__p div {_BLOOM_WORD}").alias("__w"),
            F.expr(
                f"shiftleft(cast(1 AS bigint), "
                f"cast(__p % {_BLOOM_WORD} AS int))"
            ).alias("__m"),
        )
        .groupBy("__f", "__c", "__w")
        .agg(F.bit_or("__m").alias("__v"))
        .collect()  # ≤ files · cols · bits/word rows — metadata-sized
    )
    for r in rows:
        out[_rel(r["__f"])][r["__c"]]["words"][str(r["__w"])] = int(
            r["__v"]
        )
    return out


def _prune_files(
    files: list[str], stats: dict, bloom: dict, ranges: dict, probes: dict
) -> list[str]:
    """The ONE file-skipping rule behind every ``read_where*``: keep a
    file unless its footer stats prove a range ``{col: (lo, hi)}``
    (either bound may be None) matchless, or its Bloom bitmap proves
    EVERY value of a probe ``{col: [values]}`` absent. A file without
    stats/bitmap for a column is never pruned on that column —
    skipping only drops provably-matchless files, so it is an
    optimization, never a correctness dependency."""
    bounds = {
        c: (_json_stat(lo), _json_stat(hi)) for c, (lo, hi) in ranges.items()
    }
    positions: dict = {}  # (value, bits, k) -> bit positions

    def misses(s, lo, hi) -> bool:
        fmin, fmax, _nulls = s
        return (hi is not None and fmin is not None and fmin > hi) or (
            lo is not None and fmax is not None and fmax < lo)

    def admits(info: dict, value) -> bool:
        key = (value, info["bits"], info["k"])
        if key not in positions:
            positions[key] = _bloom_positions(value, info["bits"], info["k"])
        return all(
            (int(info["words"].get(str(p // _BLOOM_WORD), 0))
             >> (p % _BLOOM_WORD)) & 1
            for p in positions[key]
        )

    keep = []
    for name in files:
        fstats = stats.get(name) or {}
        fbloom = bloom.get(name) or {}
        if any(fstats.get(c) is not None and misses(fstats[c], lo, hi)
               for c, (lo, hi) in bounds.items()):
            continue
        if any(fbloom.get(c) is not None
               and not any(admits(fbloom[c], v) for v in values)
               for c, values in probes.items()):
            continue
        keep.append(name)
    return keep


def _replace_keys(existing: DataFrame, updates: DataFrame, keys: list[str]):
    """MERGE by key: ``existing`` rows whose key an update carries are
    replaced by the updates, new keys are inserted."""
    return existing.join(
        updates.select(*keys).distinct(), keys, "left_anti"
    ).unionByName(updates.select(existing.columns))


def _conform(df: DataFrame, schema) -> DataFrame:
    """``df`` presented in ``schema``: columns missing from ``df``
    come back NULL, extra ones disappear, changed types cast."""
    from pyspark.sql import functions as F

    return df.select([
        F.col(f.name).cast(f.dataType).alias(f.name)
        if f.name in df.columns
        else F.lit(None).cast(f.dataType).alias(f.name)
        for f in schema.fields
    ])


def is_versioned(root: str) -> bool:
    """True if ``root`` carries a commit log (cheap existence check —
    used by CLI/refresh routing so read-only operations never touch a
    plain parquet directory)."""
    return os.path.isdir(os.path.join(root, _LOG))


class VersionedTable:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        protocol: CommitProtocol | None = None,
    ) -> None:
        # deliberately no mkdir: constructing a handle must not mutate
        # the path (a read-only `history` on a plain parquet dir would
        # otherwise plant a `_log/` and misroute every later reader);
        # the log directory is created at first commit
        self.spark = spark
        self.root = root
        self.protocol = protocol or HardLinkCommit()

    # -- log ---------------------------------------------------------------

    def _entry_path(self, version: int) -> str:
        return os.path.join(self.root, _LOG, f"{version:010d}.json")

    def versions(self) -> list[dict]:
        """Committed log entries, oldest first ([] when no log yet)."""
        out = []
        log_dir = os.path.join(self.root, _LOG)
        if not os.path.isdir(log_dir):
            return out
        for name in sorted(os.listdir(log_dir)):
            if not name.endswith(".json") or name.startswith("_tmp"):
                continue
            with open(os.path.join(log_dir, name)) as f:
                out.append(json.load(f))
        return out

    def latest_version(self) -> int | None:
        """Max committed version — from the zero-padded entry NAMES
        alone (one directory listing, no JSON reads: the commit CAS
        loops call this per attempt)."""
        log_dir = os.path.join(self.root, _LOG)
        if not os.path.isdir(log_dir):
            return None
        versions = [
            int(name[:-5])
            for name in os.listdir(log_dir)
            if name.endswith(".json") and not name.startswith("_tmp")
        ]
        return max(versions) if versions else None

    def _entry(self, version: int) -> dict:
        path = self._entry_path(version)
        if not os.path.exists(path):
            raise ValueError(f"{self.root}: no version {version}")
        with open(path) as f:
            return json.load(f)

    def _snapshot(self, version: int | None) -> tuple[int, dict]:
        """(version, entry) of ``version``, or of the latest version
        when it is None."""
        version = self.latest_version() if version is None else version
        if version is None:
            raise ValueError(f"{self.root}: no commits yet")
        return version, self._entry(version)

    def _lineage_skipping(self, version: int) -> tuple[list, dict]:
        """The skipping configuration snapshot ``version`` carries:
        (stats columns, {bloom col: (bits, k)}), each from the newest
        entry that has it. The walk goes newest-first from ``version``
        and stops at the first entry that is not an append, so an
        append lineage keeps its base's skipping while a plain commit
        that dropped skipping is never overruled by a superseded
        config from before it."""
        stats_cols: list = []
        sizing: dict = {}
        for e in reversed(self.versions()):
            if e["version"] > version:
                continue
            if not stats_cols and e.get("stats"):
                stats_cols = sorted({
                    c for f in e["stats"].values() for c in (f or {})
                })
            if not sizing and e.get("bloom"):
                sizing = {
                    c: (info["bits"], info["k"])
                    for f in e["bloom"].values()
                    for c, info in (f or {}).items()
                }
            if e.get("op") != "append" or (stats_cols and sizing):
                break
        return stats_cols, sizing

    # -- write -------------------------------------------------------------

    def _write_snapshot(
        self, df: DataFrame, partition_by: list[str] | None = None
    ) -> str:
        """Write ``df`` into a fresh immutable ``data-<uuid>`` directory
        and return its name. Until a log entry references it, the
        directory is invisible to readers (crash garbage for
        ``vacuum``)."""
        data_dir = f"data-{uuid.uuid4().hex[:12]}"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(os.path.join(self.root, data_dir))
        return data_dir

    def _skipping(
        self, data_dir: str, stats_cols: list, sizing: dict, schema
    ) -> dict:
        """The skipping manifests of a just-written snapshot directory,
        keyed relative to it: ``{"stats": ...}`` from the parquet
        footers for ``stats_cols`` and ``{"bloom": ...}`` from one
        ``_bloom_stats`` scan per distinct ``(bits, k)`` in ``sizing``
        ({col: (bits, k)}). ``schema`` is the written frame's schema
        for flat snapshots (skips the scan's inference job), None for
        ``partition_by`` layouts (partition columns live in directory
        names, not footers)."""
        path = os.path.join(self.root, data_dir)
        out: dict = {}
        if stats_cols:
            out["stats"] = _file_stats(path, stats_cols)
        by_sizing: dict = {}
        for c, bits_k in sizing.items():
            by_sizing.setdefault(bits_k, []).append(c)
        for (bits, k), cols in by_sizing.items():
            for name, fb in _bloom_stats(
                self.spark, path, cols, bits=bits, hashes=k, schema=schema
            ).items():
                out.setdefault("bloom", {}).setdefault(name, {}).update(fb)
        return out

    def commit(
        self,
        df: DataFrame,
        op: str = "overwrite",
        partition_by: list[str] | None = None,
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
    ) -> int:
        """Write ``df`` as a new immutable snapshot and commit it as the
        next version. Returns the committed version number.

        ``stats_cols`` opts into DATA SKIPPING: per-file min/max/null
        stats for those columns are read from the just-written parquet
        footers (driver-side metadata, no second data pass) and stored
        in the commit entry — ``read_where`` then prunes whole files by
        range predicate, the Delta/Iceberg trick that turns a 100 TB
        scan into reads of only the files whose stats ranges intersect.
        Pair with a range/Z-order layout at write time
        (``df.repartitionByRange(col)`` / ``layout.zorder_repartition``)
        so per-file ranges are actually narrow.

        ``bloom_cols`` opts into EQUALITY skipping on columns the
        layout does NOT sort (where min/max spans the domain and prunes
        nothing): per-file Bloom bitmaps (8192 bits, 4 md5 probes —
        the Delta/Iceberg bloom-index trick) are stored in the entry
        and ``read_where_eq`` drops every file whose bitmap proves the
        probe value absent. Costs one column-pruned scan of the
        written files (the bloom columns only). The sizing gives a
        ~1% false-positive rate up to ~800 distinct values per FILE;
        bitmaps live in the commit-log JSON, so much larger ones
        belong in sidecar index files (the Delta bloom layout) — a
        deliberate seam, not built here."""
        if bloom_cols:
            _check_bloom_col_types(df, bloom_cols)
        data_dir = self._write_snapshot(df, partition_by)
        extra: dict = {}
        if partition_by:
            # recorded so append() can refuse: a flat batch dir can't
            # carry hive key=value layout, and mixing the two under one
            # 'datas' snapshot makes later reads fail or drop the
            # partition column (ADVICE r10)
            extra["partition_by"] = list(partition_by)
        extra.update(self._skipping(
            data_dir, stats_cols or [],
            dict.fromkeys(bloom_cols or [], (_BLOOM_BITS, _BLOOM_HASHES)),
            None if partition_by else df.schema,
        ))
        return self._commit_entry(
            data_dir, op, _MAX_RETRIES, extra=extra or None
        )

    def _cas(self, derive) -> int:
        """The one optimistic-concurrency loop of every DERIVED commit
        (append, upsert, delete, compact, partitioned_upsert): resolve
        the base version, let ``derive(base, base_entry)`` write its
        snapshot directory (``_write_snapshot``) and return
        ``(data_dir, op, extra)``, then publish with
        ``expected_latest=base``. ``base``/``base_entry`` are None on
        an empty table. Losing the race means the snapshot was computed
        from a stale version, so the loop rebases on the winner and
        derives again — never a blind re-link, which would silently
        revert the winner's data."""
        for _ in range(_MAX_RETRIES):
            base = self.latest_version()
            entry = None if base is None else self._entry(base)
            data_dir, op, extra = derive(base, entry)
            try:
                return self._commit_entry(
                    data_dir, op, 1, expected_latest=base, extra=extra
                )
            except CommitConflict:
                continue
        raise CommitConflict(f"{self.root}: {op} lost {_MAX_RETRIES} races")

    def append(self, df: DataFrame, meta: dict | None = None) -> int:
        """APPEND-ONLY commit: write ``df`` as a NEW data directory and
        commit an entry referencing all prior directories plus it —
        O(batch) per commit instead of the copy-on-write snapshot's
        O(table), the ingest shape for append streams (fact feeds,
        event logs). The entry's ``datas`` list is the snapshot; CAS
        like ``upsert`` (an append derives from the version it read,
        losing the race re-lists the winner's directories and
        retries, so concurrent appends all land exactly once).

        ``meta`` rides in the commit entry (e.g. a streaming sink's
        ``{"stream": {"query": ..., "batch_id": N}}`` fence — see
        ``last_stream_batch``). Many appends fragment the table; fold
        with ``compact()`` (which reads the union and re-derives
        layout/skipping), then ``vacuum``. Tables with a partition
        manifest don't support append (use ``partitioned_upsert``);
        snapshots written with ``partition_by`` layouts aren't
        appendable either (the flat batch can't carry the partition
        column) — both are rejected with ValueError BEFORE the batch
        directory is written, and re-checked inside the CAS loop.

        SKIPPING SURVIVES APPENDS (the Delta per-add-action stats
        shape): the stats/Bloom columns of the current snapshot's
        lineage (``_lineage_skipping``, the rule ``compact`` uses) are
        derived for the NEW batch directory — O(batch) footer reads /
        one batch-sized column scan — and the entry stores the union
        of the prior manifests (re-keyed root-relative) with the
        batch's, so ``read_where_*`` prune appended snapshots too."""
        # reject partition-manifest tables BEFORE writing the batch
        # directory, so the ValueError path leaves no orphaned data
        # dir behind (ADVICE r9) — re-checked inside the CAS loop too,
        # since a concurrent writer could introduce a manifest
        latest = self.latest_version()
        stats_cols, sizing = [], {}
        if latest is not None:
            self._check_appendable(self._entry(latest))
            stats_cols, sizing = self._lineage_skipping(latest)
        if sizing:
            _check_bloom_col_types(df, sorted(sizing))
        data_dir = self._write_snapshot(df)
        new = {
            kind: {f"{data_dir}/{k}": v for k, v in manifest.items()}
            for kind, manifest in self._skipping(
                data_dir, stats_cols, sizing, df.schema).items()
        }

        def derive(base, entry):
            prior: list[str] = []
            old = {"stats": {}, "bloom": {}}
            if entry is not None:
                self._check_appendable(entry)
                prior = list(entry.get("datas") or [entry["data"]])
                _files, old["stats"], old["bloom"], _base = (
                    self._resolve_snapshot(entry))
            extra: dict = {"datas": prior + [data_dir]}
            for kind, manifest in old.items():
                merged = {**manifest, **new.get(kind, {})}
                if merged:
                    extra[kind] = merged
            if meta:
                extra["meta"] = meta
            return data_dir, "append", extra

        return self._cas(derive)

    def _check_appendable(self, entry: dict) -> None:
        """Refuse to append onto a partition-manifest or a
        hive-partitioned snapshot: the flat batch dir can't carry the
        key=value layout, so a mixed 'datas' snapshot would fail on
        read (conflicting partition schemas) or silently drop the
        partition column AFTER the commit landed. Detection: the
        explicit ``partition_by`` flag newer commits record, plus a
        key=value-subdir scan for entries written before the flag
        existed."""
        if "parts" in entry:
            raise ValueError(
                "append: table has a partition manifest; use "
                "partitioned_upsert"
            )
        if entry.get("partition_by"):
            raise ValueError(
                "append: snapshot was written partition_by="
                f"{entry['partition_by']}; a flat append batch can't "
                "join a hive-partitioned layout — rewrite via commit()"
            )
        for d in entry.get("datas") or [entry.get("data")]:
            if not d:
                continue
            p = os.path.join(self.root, d)
            if not os.path.isdir(p):
                continue
            for name in os.listdir(p):
                if "=" in name and os.path.isdir(os.path.join(p, name)):
                    raise ValueError(
                        "append: snapshot data dir "
                        f"{d!r} is hive-partitioned ({name!r}); a flat "
                        "append batch can't join it — rewrite via "
                        "commit()"
                    )

    def last_stream_batch(self, query_id: str) -> int | None:
        """Newest committed streaming batch id for ``query_id`` (the
        exactly-once FENCE a foreachBatch sink checks before
        committing — Delta's txnAppId/txnVersion contract): scan the
        log newest-first for a matching ``meta.stream`` entry. Log-
        length driver metadata."""
        for e in reversed(self.versions()):
            st = (e.get("meta") or {}).get("stream")
            if st and st.get("query") == query_id:
                return int(st["batch_id"])
        return None

    def _commit_entry(
        self,
        data_dir: str,
        op: str,
        max_retries: int,
        expected_latest: int | None | str = "any",
        extra: dict | None = None,
    ) -> int:
        """``expected_latest="any"`` (full-snapshot overwrite): losing a
        version race re-links the same snapshot at the next number —
        last writer wins the whole table, which is exactly overwrite
        semantics. Derived commits (``_cas``) must instead pass the
        version their snapshot was COMPUTED from: losing the race then
        raises ``CommitConflict`` so the caller rebases on the winner's
        data instead of silently reverting it."""
        log_dir = os.path.join(self.root, _LOG)
        os.makedirs(log_dir, exist_ok=True)
        staged = os.path.join(log_dir, f"_tmp-{uuid.uuid4().hex[:12]}.json")
        try:
            for _ in range(max_retries):
                latest = self.latest_version()
                if expected_latest != "any" and latest != expected_latest:
                    raise CommitConflict(
                        f"{self.root}: table moved to v{latest} while this "
                        f"commit was derived from v{expected_latest} — rebase"
                    )
                version = 0 if latest is None else latest + 1
                # staged content is fully written, flushed, and synced
                # BEFORE publish — the protocol contract's "content
                # appears atomically with the name" needs a complete
                # staged file (the link carries content with it)
                with open(staged, "w") as f:
                    json.dump(
                        {
                            "version": version,
                            "data": data_dir,
                            "op": op,
                            "committed_at": time.time(),
                            **(extra or {}),
                        },
                        f,
                    )
                    f.flush()
                    os.fsync(f.fileno())
                # the commit point: one protocol-provided atomic
                # create-if-absent; False = a concurrent writer
                # claimed this version — re-stage for the next
                if self.protocol.publish(staged, self._entry_path(version)):
                    return version
                continue
            raise CommitConflict(
                f"{self.root}: lost {max_retries} commit races"
            )
        finally:
            if os.path.exists(staged):
                os.unlink(staged)

    def restore(self, version: int) -> int:
        """Append a new commit that points at ``version``'s snapshot
        (no data movement). Partition-manifest versions restore by
        carrying the whole manifest forward."""
        entry = self._entry(version)
        extra = {
            k: entry[k]
            for k in ("parts", "part_col", "part_type", "part_internal",
                      "partition_by", "stats", "bloom", "datas")
            if k in entry
        }
        return self._commit_entry(
            entry["data"], f"restore({version})", _MAX_RETRIES,
            extra=extra or None,
        )

    # -- read --------------------------------------------------------------

    def read(
        self, version: int | None = None, schema=None
    ) -> DataFrame:
        """Snapshot-isolated read: resolves the (given or latest)
        version NOW; the returned DataFrame keeps reading that snapshot
        regardless of later commits. Partition-manifest versions
        (``partitioned_upsert``) resolve to their leaf directories
        (``_read_leaves``) — a directory-listing-sized operation.

        ``schema`` (optional StructType) skips parquet schema
        inference — the footer-sampling job every schemaless
        ``spark.read.parquet`` launches at plan time. The build path
        passes the just-written DataFrame's schema (it IS the file
        schema); external callers normally omit it. Mismatched hints
        surface as nulls/analysis errors exactly as with any
        user-supplied reader schema."""
        version, entry = self._snapshot(version)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        if "parts" in entry:
            return self._read_leaves(entry, entry["parts"], reader)
        return reader.parquet(*[
            os.path.join(self.root, d)
            for d in entry.get("datas") or [entry["data"]]
        ])

    def _read_leaves(self, entry: dict, parts: dict, reader) -> DataFrame:
        """Read the leaves ``parts`` ({value: data_dir}) of a
        partition-manifest entry. An internal layout column
        (``part_internal``) has nothing to re-attach, so ALL leaves
        resolve through ONE multi-path ``reader`` scan — a driver-side
        listing, not an N-way union whose analysis costs ~100 ms per
        leaf on wide manifests. Otherwise each leaf is read on its own
        and the partition value re-attached from the manifest."""
        from functools import reduce

        from pyspark.sql import functions as F

        col, dtype = entry["part_col"], entry["part_type"]
        leaves = [
            (val, os.path.join(self.root, data_dir, f"{col}={val}"))
            for val, data_dir in sorted(parts.items())
        ]
        if entry.get("part_internal", False):
            return reader.parquet(*[path for _val, path in leaves])
        return reduce(DataFrame.unionByName, [
            self.spark.read.parquet(path).withColumn(
                col, F.lit(val).cast(dtype))
            for val, path in leaves
        ])

    def read_parts(
        self, values: list, version: int | None = None
    ) -> tuple[DataFrame, dict]:
        """Partition-pruned read of a MANIFEST version
        (``partitioned_upsert`` tables): resolve only the requested
        partition values' leaf directories — the point-lookup serving
        path for a partition-bucketed index (e.g. the fp-prefix
        buckets of the incremental dedup index: a lookup reads ONE
        bucket, never the index). Unknown values contribute nothing
        (an absent partition provably holds no rows). Returns
        (DataFrame, {"parts_total": N, "parts_read": M}). Plain
        snapshot versions raise — use ``read_where_*`` there (those
        prune by file stats, this prunes by manifest enumeration)."""
        version, entry = self._snapshot(version)
        if "parts" not in entry:
            raise ValueError(
                "read_parts needs a partition-manifest version "
                "(partitioned_upsert); plain snapshots prune via "
                "read_where_*"
            )
        wanted = {str(v) for v in values}
        keep = {
            val: data_dir
            for val, data_dir in entry["parts"].items()
            if val in wanted
        }
        report = {
            "parts_total": len(entry["parts"]),
            "parts_read": len(keep),
        }
        if not keep:
            return self.read(version).limit(0), report
        return self._read_leaves(entry, keep, self.spark.read), report

    def _resolve_snapshot(self, entry) -> tuple[list, dict, dict, str]:
        """Normalize a plain or append (multi-directory) snapshot for
        the pruned-read paths: (files, stats, bloom, base) where files
        and the manifest keys are TABLE-ROOT-relative paths. Plain
        entries key their manifests relative to the data dir — re-key
        them; ``datas`` entries store root-relative keys natively
        (``append``). ``base`` is the single data dir of a plain
        entry (the ``basePath`` that re-attaches partition columns) or
        "" for multi-dir snapshots (append is flat-layout only)."""
        if "parts" in entry:
            raise ValueError(
                "pruned reads support plain or append snapshots; "
                "partition-manifest versions prune via read_parts"
            )
        if "datas" in entry:
            files = [
                f"{d}/{p}" for d in entry["datas"]
                for p in _parquet_relpaths(os.path.join(self.root, d))
            ]
            return (files, entry.get("stats") or {},
                    entry.get("bloom") or {}, "")
        d = entry["data"]
        files = [
            f"{d}/{p}"
            for p in _parquet_relpaths(os.path.join(self.root, d))
        ]
        stats = {
            f"{d}/{k}": v for k, v in (entry.get("stats") or {}).items()
        }
        bloom = {
            f"{d}/{k}": v for k, v in (entry.get("bloom") or {}).items()
        }
        return files, stats, bloom, os.path.join(self.root, d)

    def _read_pruned(
        self, version: int | None, ranges: dict, probes: dict
    ) -> tuple[DataFrame, dict]:
        """The one pruned-read body behind every ``read_where*``:
        resolve the snapshot, keep the files ``_prune_files`` cannot
        rule out for the ranges ``{col: (lo, hi)}`` and membership
        probes ``{col: [values]}``, read just those, and re-apply the
        exact predicate — so the result is IDENTICAL to a full scan +
        filter. Returns (DataFrame, {"files_total": N,
        "files_read": M}), the skipping evidence.

        Probe values are type-checked (int/str) only for columns the
        Bloom manifest carries, since only a bitmap can misprune a
        probe of another type. A version without the metadata the
        predicates can use is read in full; when no file survives, an
        empty read of the snapshot keeps the schema."""
        from pyspark.sql import functions as F

        version, entry = self._snapshot(version)
        files, stats, bloom, base = self._resolve_snapshot(entry)
        for col, values in probes.items():
            if _bloom_has_col(bloom, col):
                for v in values:
                    _check_bloom_probe(col, v)

        def pred(df: DataFrame) -> DataFrame:
            for col, (lo, hi) in ranges.items():
                if lo is not None:
                    df = df.filter(F.col(col) >= lo)
                if hi is not None:
                    df = df.filter(F.col(col) <= hi)
            for col, values in probes.items():
                # one value keeps `==`: the plans of point reads stay put
                df = df.filter(
                    F.col(col) == values[0] if len(values) == 1
                    else F.col(col).isin(values)
                )
            return df

        if not (ranges and stats) and not (probes and bloom):
            n = len(files)
            return pred(self.read(version)), {
                "files_total": n, "files_read": n}
        keep = _prune_files(files, stats, bloom, ranges, probes)
        report = {"files_total": len(files), "files_read": len(keep)}
        if not keep:
            return pred(self.read(version).limit(0)), report
        reader = self.spark.read
        if base:
            reader = reader.option("basePath", base)
        return pred(reader.parquet(*[
            os.path.join(self.root, name) for name in keep
        ])), report

    def read_where(
        self,
        col: str,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> tuple[DataFrame, dict]:
        """Stats-pruned range read (``_read_pruned`` with one range):
        read only the files whose footer [min, max] for ``col``
        intersects [lo, hi] (each bound optional). Files without usable
        stats are kept, as are all files of versions committed without
        ``stats_cols``; NULLs never match a range predicate, so
        all-null files carry no usable min/max and are kept too.

        At 100 TB with a range/Z-ordered layout this is the difference
        between scanning the table and scanning the handful of files
        whose key range overlaps the query window."""
        return self._read_pruned(version, {col: (lo, hi)}, {})

    def read_where_in(
        self,
        col: str,
        values: list,
        version: int | None = None,
    ) -> tuple[DataFrame, dict]:
        """IN-list Bloom pruning (``_read_pruned`` with one probe): a
        file is read iff at least ONE value passes its bitmap, and the
        exact IN predicate is re-applied. A one-value list is
        ``read_where_eq``."""
        if not values:
            raise ValueError("read_where_in needs a non-empty IN list")
        return self._read_pruned(version, {}, {col: list(values)})

    def read_where_all(
        self,
        preds: dict,
        version: int | None = None,
        eq: dict | None = None,
    ) -> tuple[DataFrame, dict]:
        """Conjunctive pruning (``_read_pruned`` with every predicate):
        ``preds`` maps column → (lo, hi) (either bound may be None) and
        ``eq`` maps column → probe value; a file is read only if EVERY
        range intersects its stats AND every probe passes its Bloom
        bitmap — on a Z-ordered layout with a bloom key the
        intersection prunes multiplicatively across dims AND the point
        key. One range entry is ``read_where``; one eq entry is
        ``read_where_eq``."""
        return self._read_pruned(
            version, dict(preds),
            {col: [value] for col, value in (eq or {}).items()},
        )

    def read_where_eq(
        self,
        col: str,
        value,
        version: int | None = None,
    ) -> tuple[DataFrame, dict]:
        """Bloom-pruned point read (``_read_pruned`` with one
        single-value probe): keep only the files whose Bloom bitmap
        for ``col`` has ALL probe bits set for ``value`` (a miss
        PROVES absence; a hit may be a false positive, hence the
        re-applied equality). Files without a bitmap, and versions
        committed without ``bloom_cols``, are kept.

        This is the skipping rung for point predicates on columns the
        layout does not sort: after a Z-order on (a, b), min/max for
        an unrelated high-cardinality key spans the whole domain in
        every file and ``read_where`` keeps everything, while the
        bitmap prunes to the handful of files that actually contain
        the key. ``value`` must render to the same string Spark's
        cast-to-string produces (int/string keys)."""
        return self._read_pruned(version, {}, {col: [value]})

    def as_of(self, timestamp: float) -> DataFrame:
        """Time travel: the table as of a wall-clock instant (latest
        version committed at or before it)."""
        candidates = [
            e for e in self.versions() if e["committed_at"] <= timestamp
        ]
        if not candidates:
            raise ValueError(
                f"{self.root}: no version as of {timestamp}"
            )
        return self.read(candidates[-1]["version"])

    def upsert(self, updates: DataFrame, key: str | list[str]) -> int:
        """MERGE-shaped commit (dbt's incremental `merge` strategy /
        Delta MERGE INTO, last-writer-wins by key): rows whose key
        matches an update are replaced, new keys are inserted,
        untouched rows carry over. One anti-join + union — O(table)
        write but O(batch) shuffle on the key; published as a single
        atomic commit. On an empty table the batch IS the table. For
        versioned SCD2 history use ``Runner.merge_refresh`` instead."""
        keys = [key] if isinstance(key, str) else list(key)

        def derive(base, _entry):
            merged = updates
            if base is not None:
                merged = _replace_keys(self.read(base), updates, keys)
            return self._write_snapshot(merged), "upsert", None

        return self._cas(derive)

    def delete(self, keys: DataFrame, key: str | list[str]) -> int:
        """DELETE-shaped commit (Delta ``DELETE WHERE key IN ...`` /
        the CDC_FLAG='D' half of MERGE): rows whose key matches are
        dropped, everything else carries over, published as a single
        atomic commit with ``op='delete'`` in the log entry. The
        removed rows surface in ``changes()`` as
        ``_change_type='delete'`` tombstone rows of this version step.
        CAS on the base version like ``upsert``: losing a race rebases
        on the winner's data and re-derives the anti-join."""
        key_cols = [key] if isinstance(key, str) else list(key)

        def derive(base, _entry):
            remaining = self.read(base).join(
                keys.select(*key_cols).distinct(), key_cols, "left_anti"
            )
            return self._write_snapshot(remaining), "delete", None

        return self._cas(derive)

    def partitioned_upsert(
        self,
        updates: DataFrame,
        key: str | list[str],
        partition_col: str,
        internal: bool = False,
        overwrite: bool = False,
        check_key_spread: bool = True,
        op: str = "partitioned_upsert",
    ) -> int:
        """MERGE that rewrites ONLY the partitions the batch touches —
        the Iceberg/Delta dynamic-partition-overwrite shape, and the
        piece that makes a continuously-ingesting index table viable at
        100 TB (``upsert`` rewrites O(table) per batch; this rewrites
        O(affected partitions + batch)).

        Mechanics: the commit entry carries a partition manifest
        ``parts: {value: data_dir}``. Untouched partitions keep
        pointing at the directories of earlier commits (immutable, so
        sharing is safe); touched partitions are merged
        (anti-join-by-key + union, scoped to their leaf directories)
        and written — ``partitionBy(partition_col)`` — into this
        commit's directory only. ``read()`` resolves the manifest to
        its leaf directories; ``vacuum`` keeps every directory any
        kept manifest references; ``compact()`` folds a fragmented
        manifest back into a single plain snapshot.

        The first partitioned_upsert on a plain (or empty) table
        rewrites it once in full to establish the manifest.

        Constraints: partition values must be non-null simple scalars
        whose ``str()`` matches Spark's partition-directory naming
        (ints, alnum strings — e.g. a hash-prefix bucket column);
        the affected-value ``collect()`` is partition-count-sized
        metadata, never data.

        **``partition_col`` must be a function of the key** (e.g.
        ``fp_bucket = hash(fingerprint) % B``): the anti-join scans
        only the batch's partitions, so a key whose partition value
        CHANGED between commits would leave its old row alive in the
        untouched partition — duplicate keys, lost MERGE semantics
        (Delta/Iceberg dynamic-partition MERGE has the same
        precondition). The batch is cheap-checked for it: a key
        present under two partition values in one batch proves the
        column is NOT key-derived → ``ValueError``. Callers that
        derived ``partition_col`` as a deterministic per-row
        expression over the key columns may pass
        ``check_key_spread=False``: such a column provably can't put
        one key under two values, and the check is one whole-batch
        aggregation job saved per merge.

        ``internal=True`` marks the partition column as a STORAGE
        DETAIL (``part_internal`` in the entry): ``read()`` /
        ``read_parts()`` return the table WITHOUT it, so a model can
        adopt a partition-pruned merge layout without changing its
        user-visible schema — the hive-partition analog of a layout
        column. The column still lives in the leaf-directory names
        and in ``updates`` (callers derive it right before the call).
        Internal tables can't transition FROM a plain non-empty
        snapshot via the merge path (the existing rows' partition
        values aren't derivable storage-side) — bootstrap with
        ``overwrite=True`` instead.

        ``overwrite=True`` replaces the WHOLE table with ``updates``
        as a fresh full manifest (no anti-join, no carried-forward
        partitions) — the bootstrap/rebuild shape with overwrite
        semantics: keys absent from ``updates`` disappear, which a
        plain upsert never does.

        ``op`` is the commit label recorded in the log entry."""
        from pyspark.sql import functions as F

        keys = [key] if isinstance(key, str) else list(key)
        dtype = updates.schema[partition_col].dataType.simpleString()
        if check_key_spread:
            bad = (
                updates.groupBy(*keys)
                .agg(F.countDistinct(partition_col).alias("__np"))
                .filter(F.col("__np") > 1)
                .limit(1)
                .collect()
            )
            if bad:
                raise ValueError(
                    f"{self.root}: key {tuple(bad[0][k] for k in keys)!r} "
                    f"appears under multiple {partition_col!r} values in "
                    "one batch — the partition column is not a function "
                    "of the key; derive the partition from the key"
                )

        def touched(df: DataFrame) -> list[str]:
            return sorted(
                str(r[0]) for r in df.select(partition_col).distinct().collect()
            )

        def derive(base, base_entry):
            merged, prev_parts, vals = updates, {}, None
            if overwrite:
                # full-replace bootstrap: every value in `updates` ends
                # up in this commit's dir, so the touched-value set is
                # LISTED from the written key=value dirs post-write —
                # a pre-write distinct() would execute the (possibly
                # expensive) upstream plan a second time
                pass
            elif base_entry is not None and (
                base_entry.get("part_col") == partition_col
            ):
                # pruned path: merge only the touched partitions
                vals = touched(updates)
                if base_entry.get("part_type") != dtype:
                    raise ValueError(
                        f"{self.root}: batch {partition_col!r} dtype "
                        f"{dtype} != manifest part_type "
                        f"{base_entry.get('part_type')} — a re-typed "
                        "partition column would silently re-type "
                        "carried-forward partitions on read(); cast the "
                        "batch to the manifest's type"
                    )
                prev_parts = dict(base_entry["parts"])
                # ONE read per distinct data dir, not one per touched
                # partition value: leaves of the same commit dir share
                # a hive layout, so a basePath-anchored multi-path
                # scan re-derives the partition column from the
                # key=value dir names in a single analysis pass — and
                # the batch's own schema doubles as the reader schema
                # (leaf files carry exactly the non-partition fields),
                # skipping the per-leaf inference job each merge paid
                by_dir: dict[str, list[str]] = {}
                for v in vals:
                    if v in prev_parts:
                        by_dir.setdefault(prev_parts[v], []).append(v)
                existing = None
                for data_dir_prev, vs in sorted(by_dir.items()):
                    base_dir = os.path.join(self.root, data_dir_prev)
                    leaf = (
                        self.spark.read
                        .schema(updates.schema)
                        .option("basePath", base_dir)
                        .parquet(*[
                            os.path.join(
                                base_dir, f"{partition_col}={v}")
                            for v in sorted(vs)
                        ])
                    )
                    existing = (
                        leaf if existing is None else existing.unionByName(leaf)
                    )
                if existing is not None:
                    merged = _replace_keys(existing, updates, keys)
            elif base_entry is not None:
                # full rewrite: a plain snapshot (or a manifest on
                # another column) becomes this column's manifest; the
                # anti-join sees EVERY row of the old snapshot
                if internal:
                    # internal reads drop the partition column, so the
                    # full-rewrite path (which anti-joins the whole
                    # read) can't reconstruct it for carried rows
                    raise ValueError(
                        f"{self.root}: internal-partition merge needs "
                        f"an existing {partition_col!r} manifest; "
                        "bootstrap or re-partition with overwrite=True"
                    )
                merged = _replace_keys(self.read(base), updates, keys)
                vals = touched(merged)
            else:
                vals = touched(updates)
            if internal:
                # cluster by partition value before the partitionBy
                # write: otherwise every shuffle task writes a sliver
                # into every touched partition dir — O(tasks × values)
                # small files per commit, the classic dynamic-partition
                # write explosion
                merged = merged.repartition(F.col(partition_col))
            data_dir = self._write_snapshot(merged, [partition_col])
            if vals is None:
                # overwrite bootstrap: enumerate the values the write
                # actually produced (safe because partition values are
                # constrained to str()-stable simple scalars)
                prefix = f"{partition_col}="
                vals = sorted(
                    d[len(prefix):]
                    for d in os.listdir(os.path.join(self.root, data_dir))
                    if d.startswith(prefix)
                )
            extra = {
                "parts": {**prev_parts, **{v: data_dir for v in vals}},
                "part_col": partition_col,
                "part_type": dtype,
            }
            if internal:
                extra["part_internal"] = True
            return data_dir, op, extra

        return self._cas(derive)

    def read_conformed(self, version: int) -> DataFrame:
        """Time travel with schema evolution: the old snapshot presented
        in the LATEST version's schema — columns added since then come
        back NULL, dropped ones disappear, changed types cast. Lets
        code written against today's schema consume any historical
        version (the Delta/Iceberg schema-merge read behavior)."""
        return _conform(self.read(version), self.read().schema)

    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Change data feed between two versions (Delta CDF-shaped):
        rows only in ``to`` are ``insert``, rows only in ``from`` are
        ``delete`` — an updated row appears as one of each. Multiset
        semantics via exceptAll, so duplicate rows diff correctly.
        Cost: two anti-diffs over the two snapshots — O(both sides),
        which is the floor without per-commit row lineage."""
        from pyspark.sql import functions as F

        new = self.read(to_version)
        old = self.read(from_version)
        if [
            (f.name, f.dataType) for f in old.schema.fields
        ] != [(f.name, f.dataType) for f in new.schema.fields]:
            # schema evolution between the versions: conform the old
            # snapshot to the TO schema so the multiset diff is
            # well-defined
            old = _conform(old, new.schema)
        inserts = new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
        deletes = old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
        return inserts.unionByName(deletes)

    def compact(
        self,
        target_files: int = 1,
        zorder: tuple[str, str] | None = None,
        range_by: list[str] | None = None,
    ) -> int:
        """Rewrite the latest snapshot as ``target_files`` files and
        commit it — the small-file remedy for tables grown by many
        incremental commits. Readers of prior versions are untouched
        (it's just another commit); run ``vacuum`` afterwards to
        reclaim the fragmented snapshot.

        ``zorder=(x, y)`` / ``range_by=[cols]`` make the rewrite a
        LAYOUT-IMPROVING compaction (the Delta ``OPTIMIZE ZORDER BY``
        shape): data written by arrival order re-clusters so the
        re-derived stats actually prune — maintenance that upgrades
        skipping instead of merely preserving it. ``zorder`` uses the
        normalized interleave (both dims prune); ``range_by`` is the
        single-dim sort. Exclusive.

        Skipping metadata SURVIVES compaction: the stats/bloom columns
        of the source version's lineage (``_lineage_skipping``) are
        re-derived for the rewritten files (same columns, same bloom
        sizing) — otherwise routine maintenance would silently turn
        every pruned read back into a full scan."""
        if zorder and range_by:
            raise ValueError("compact: zorder and range_by are exclusive")
        self._snapshot(None)  # an empty table raises: nothing to compact

        def derive(base, _entry):
            src = self.read(base)
            if zorder:
                from dbt_tpcdi_spark.operators.layout import (
                    zorder_repartition_normalized,
                )

                df = zorder_repartition_normalized(
                    src, zorder[0], zorder[1], target_files
                )
            elif range_by:
                df = src.repartitionByRange(target_files, *range_by)
            else:
                df = src.coalesce(target_files)
            data_dir = self._write_snapshot(df)
            stats_cols, sizing = self._lineage_skipping(base)
            extra = self._skipping(data_dir, stats_cols, sizing, df.schema)
            return data_dir, f"compact({base})", extra or None

        return self._cas(derive)

    # -- maintenance -------------------------------------------------------

    def vacuum(
        self, keep_last: int = 2, retention_seconds: float = 600.0
    ) -> list[str]:
        """Drop snapshot directories unreferenced by the last
        ``keep_last`` (≥1 — the current version is never vacuumable)
        versions, plus crash garbage: staged tmp entries and data dirs
        no surviving entry points to. Returns removed paths.

        NOT snapshot-safe for readers older than the kept tail (same
        contract as Delta VACUUM). In-flight-writer protection is the
        Delta retention contract: unreferenced data dirs and staged
        log entries are deleted only once older than
        ``retention_seconds`` — any write-then-link in progress is by
        definition younger than its own wall-clock age, so a live
        commit can't lose its files no matter how commits interleave.
        Set ``retention_seconds=0`` only when no writer can be active."""
        import shutil

        if keep_last < 1:
            raise ValueError("vacuum(keep_last) must be >= 1")
        entries = self.versions()
        if not entries:
            return []
        kept = entries[-keep_last:]
        keep_dirs = (
            {e["data"] for e in kept}
            | {d for e in kept for d in e.get("parts", {}).values()}
            | {d for e in kept for d in e.get("datas", [])}
        )
        age_cutoff = time.time() - retention_seconds
        removed = []
        for e in entries[: len(entries) - len(kept)]:
            os.unlink(self._entry_path(e["version"]))
        for name in os.listdir(self.root):
            if name == _LOG or name in keep_dirs:
                continue
            path = os.path.join(self.root, name)
            if os.path.getmtime(path) >= age_cutoff:
                continue  # within retention: possibly a live writer's
            shutil.rmtree(path)
            removed.append(name)
        log_dir = os.path.join(self.root, _LOG)
        for name in os.listdir(log_dir):
            path = os.path.join(log_dir, name)
            if name.startswith("_tmp") and os.path.getmtime(path) < age_cutoff:
                os.unlink(path)
        return removed
