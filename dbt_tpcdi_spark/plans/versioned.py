"""Versioned tables: a minimal transactional commit log over parquet —
snapshot isolation, time travel, restore, vacuum.

The reference gets these properties from Snowflake (every dynamic
table is transactional and time-travelable, ``dbt_project.yml``
materializations); a warehouse of bare parquet directories has none of
them — an overwrite torn by a crash corrupts readers, and there is no
"as of yesterday". This module adds the Delta/Iceberg-shaped core
without those libraries (not in the container, and the mechanism is
worth owning: it is ~200 lines over any POSIX filesystem with atomic
``link(2)``):

- A table is a directory: immutable data snapshots ``data-<v>-<uuid>/``
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
  commits. This obsoletes the stage-and-swap dance ``Runner.
  merge_refresh`` needs on bare parquet.
- ``restore(v)`` is a NEW commit whose entry points at the old
  snapshot directory (history is append-only, like Delta RESTORE);
  ``vacuum`` drops snapshot dirs unreferenced by the kept tail of the
  log.

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

    # -- write -------------------------------------------------------------

    def commit(
        self,
        df: DataFrame,
        op: str = "overwrite",
        partition_by: list[str] | None = None,
        max_retries: int = 10,
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_bits: int = _BLOOM_BITS,
        bloom_hashes: int = _BLOOM_HASHES,
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
        written files (the bloom columns only). Size ``bloom_bits`` ≈
        10× the distinct values per FILE for a ~1% false-positive
        rate; bitmaps live in the commit-log JSON, so beyond ~10⁵ bits
        per file they belong in sidecar index files (the Delta bloom
        layout) — a deliberate seam, not built here."""
        if bloom_cols:
            _check_bloom_col_types(df, bloom_cols)
        data_dir = f"data-{uuid.uuid4().hex[:12]}"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(os.path.join(self.root, data_dir))
        extra = {}
        if partition_by:
            # recorded so append() can refuse: a flat batch dir can't
            # carry hive key=value layout, and mixing the two under one
            # 'datas' snapshot makes later reads fail or drop the
            # partition column (ADVICE r10)
            extra["partition_by"] = list(partition_by)
        if stats_cols:
            extra["stats"] = _file_stats(
                os.path.join(self.root, data_dir), stats_cols
            )
        if bloom_cols:
            extra["bloom"] = _bloom_stats(
                self.spark, os.path.join(self.root, data_dir),
                bloom_cols, bits=bloom_bits, hashes=bloom_hashes,
                # flat snapshots: the written files carry exactly
                # df's schema — skip the inference job. partitionBy
                # layouts keep inference (partition cols live in dir
                # names, not footers).
                schema=None if partition_by else df.schema,
            )
        return self._commit_entry(
            data_dir, op, max_retries, extra=extra or None
        )

    def append(
        self,
        df: DataFrame,
        max_retries: int = 10,
        meta: dict | None = None,
    ) -> int:
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

        SKIPPING SURVIVES APPENDS (r10, the Delta per-add-action stats
        shape): whatever stats/Bloom columns the current snapshot
        carries are derived for the NEW batch directory — O(batch)
        footer reads / one batch-sized column scan — and the entry
        stores the union of the prior manifests (re-keyed
        root-relative) with the batch's, so ``read_where_*`` prune
        appended snapshots too; probes between compactions stay
        file-pruned instead of degrading to full scans."""
        # reject partition-manifest tables BEFORE writing the batch
        # directory, so the ValueError path leaves no orphaned data
        # dir behind (ADVICE r9) — re-checked inside the CAS loop too,
        # since a concurrent writer could introduce a manifest
        _latest0 = self.latest_version()
        if _latest0 is not None:
            _e0 = self._entry(_latest0)
            if "parts" in _e0:
                raise ValueError(
                    "append: table has a partition manifest; use "
                    "partitioned_upsert"
                )
            self._check_not_hive_partitioned(_e0)
        stats_cols, bloom_sizing = self._inherited_skipping()
        if bloom_sizing:
            _check_bloom_col_types(df, sorted(bloom_sizing))
        data_dir = f"data-{uuid.uuid4().hex[:12]}"
        df.write.mode("overwrite").parquet(
            os.path.join(self.root, data_dir)
        )
        new_stats: dict = {}
        new_bloom: dict = {}
        if stats_cols:
            new_stats = {
                f"{data_dir}/{k}": v
                for k, v in _file_stats(
                    os.path.join(self.root, data_dir), stats_cols
                ).items()
            }
        for c, (bits, k_) in sorted(bloom_sizing.items()):
            part = _bloom_stats(
                self.spark, os.path.join(self.root, data_dir),
                [c], bits=bits, hashes=k_,
            )
            for name, fb in part.items():
                new_bloom.setdefault(
                    f"{data_dir}/{name}", {}).update(fb)
        for _ in range(max_retries):
            latest = self.latest_version()
            prior: list[str] = []
            pstats: dict = {}
            pbloom: dict = {}
            if latest is not None:
                entry = self._entry(latest)
                if "parts" in entry:
                    raise ValueError(
                        "append: table has a partition manifest; use "
                        "partitioned_upsert"
                    )
                self._check_not_hive_partitioned(entry)
                prior = list(entry.get("datas") or [entry["data"]])
                _pf, pstats, pbloom, _pb = self._resolve_snapshot(entry)
            extra: dict = {"datas": prior + [data_dir]}
            merged_stats = {**pstats, **new_stats}
            merged_bloom = {**pbloom, **new_bloom}
            if merged_stats:
                extra["stats"] = merged_stats
            if merged_bloom:
                extra["bloom"] = merged_bloom
            if meta:
                extra["meta"] = meta
            try:
                return self._commit_entry(
                    data_dir, "append", max_retries=1,
                    expected_latest=latest, extra=extra,
                )
            except CommitConflict:
                continue
        raise CommitConflict(
            f"{self.root}: append lost {max_retries} races"
        )

    def _inherited_skipping(self) -> tuple[list, dict]:
        """The skipping configuration the current snapshot lineage
        carries: (stats column list, {bloom col: (bits, k)}) from the
        newest entries that have each — the rule ``compact`` uses to
        restore skipping, reused so ``append`` preserves it."""
        stats_cols: list = []
        bloom_sizing: dict = {}
        for e in reversed(self.versions()):
            if not stats_cols and e.get("stats"):
                stats_cols = sorted({
                    c for f in e["stats"].values() for c in (f or {})
                })
            if not bloom_sizing and e.get("bloom"):
                for f in e["bloom"].values():
                    for c, info in (f or {}).items():
                        bloom_sizing[c] = (info["bits"], info["k"])
            if stats_cols and bloom_sizing:
                break
        return stats_cols, bloom_sizing

    def _check_not_hive_partitioned(self, entry: dict) -> None:
        """Refuse to append onto a hive-partitioned snapshot: the flat
        batch dir can't carry the key=value layout, so a mixed 'datas'
        snapshot would fail on read (conflicting partition schemas) or
        silently drop the partition column AFTER the commit landed.
        Detection: the explicit ``partition_by`` flag newer commits
        record, plus a key=value-subdir scan for entries written before
        the flag existed. Mirrors the partition-manifest pre-check."""
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
        semantics. Derived commits (upsert/merge) must instead pass the
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

    def restore(self, version: int, max_retries: int = 10) -> int:
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
            entry["data"], f"restore({version})", max_retries,
            extra=extra or None,
        )

    # -- read --------------------------------------------------------------

    def read(
        self, version: int | None = None, schema=None
    ) -> DataFrame:
        """Snapshot-isolated read: resolves the (given or latest)
        version NOW; the returned DataFrame keeps reading that snapshot
        regardless of later commits. Partition-manifest versions
        (``partitioned_upsert``) resolve to one leaf-directory read per
        partition — a directory-listing-sized operation — re-attaching
        the partition column from the manifest.

        ``schema`` (optional StructType) skips parquet schema
        inference — the footer-sampling job every schemaless
        ``spark.read.parquet`` launches at plan time. The build path
        passes the just-written DataFrame's schema (it IS the file
        schema); external callers normally omit it. Mismatched hints
        surface as nulls/analysis errors exactly as with any
        user-supplied reader schema."""
        if version is None:
            version = self.latest_version()
            if version is None:
                raise ValueError(f"{self.root}: no commits yet")
        entry = self._entry(version)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        if "datas" in entry:
            return reader.parquet(*[
                os.path.join(self.root, d) for d in entry["datas"]
            ])
        if "parts" not in entry:
            return reader.parquet(
                os.path.join(self.root, entry["data"])
            )
        from pyspark.sql import functions as F

        col, dtype = entry["part_col"], entry["part_type"]
        if entry.get("part_internal", False):
            # internal layout column: nothing to re-attach, so ALL leaf
            # directories resolve through ONE multi-path scan — a
            # driver-side listing, not an N-way union whose analysis
            # costs ~100 ms per leaf on wide manifests
            return reader.parquet(*[
                os.path.join(self.root, d, f"{col}={v}")
                for v, d in sorted(entry["parts"].items())
            ])
        out = None
        for val, data_dir in sorted(entry["parts"].items()):
            leaf = self.spark.read.parquet(
                os.path.join(self.root, data_dir, f"{col}={val}")
            ).withColumn(col, F.lit(val).cast(dtype))
            out = leaf if out is None else out.unionByName(leaf)
        return out

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
        if version is None:
            version = self.latest_version()
            if version is None:
                raise ValueError(f"{self.root}: no commits yet")
        entry = self._entry(version)
        if "parts" not in entry:
            raise ValueError(
                "read_parts needs a partition-manifest version "
                "(partitioned_upsert); plain snapshots prune via "
                "read_where_*"
            )
        from pyspark.sql import functions as F
        col, dtype = entry["part_col"], entry["part_type"]
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
            empty = self.read(version).limit(0)
            return empty, report
        if entry.get("part_internal", False):
            return self.spark.read.parquet(*[
                os.path.join(self.root, d, f"{col}={v}")
                for v, d in sorted(keep.items())
            ]), report
        out = None
        for val, data_dir in sorted(keep.items()):
            leaf = self.spark.read.parquet(
                os.path.join(self.root, data_dir, f"{col}={val}")
            ).withColumn(col, F.lit(val).cast(dtype))
            out = leaf if out is None else out.unionByName(leaf)
        return out, report

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

    def _read_files(self, keep: list, base: str) -> DataFrame:
        paths = [os.path.join(self.root, name) for name in keep]
        reader = self.spark.read
        if base:
            reader = reader.option("basePath", base)
        return reader.parquet(*paths)

    def read_where(
        self,
        col: str,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> tuple[DataFrame, dict]:
        """Stats-pruned range read: resolve the snapshot, keep only the
        files whose footer [min, max] for ``col`` intersects [lo, hi]
        (each bound optional), read just those, and re-apply the exact
        predicate — so the result is IDENTICAL to a full scan + filter,
        the skipping only removes provably-matchless files. Files
        without usable stats are kept (conservative), as are all files
        of versions committed without ``stats_cols`` — pruning is an
        optimization, never a correctness dependency. NULLs never match
        a range predicate, so all-null files (min/max None, nulls > 0
        ... recorded as stats [None, None, n]) are skippable only when
        stats exist; here they surface as no-stats and are kept.

        Returns (DataFrame, report) where report =
        {"files_total": N, "files_read": M} — the skipping evidence.

        At 100 TB with a range/Z-ordered layout this is the difference
        between scanning the table and scanning the handful of files
        whose key range overlaps the query window."""
        from pyspark.sql import functions as F

        if version is None:
            version = self.latest_version()
            if version is None:
                raise ValueError(f"{self.root}: no commits yet")
        entry = self._entry(version)
        files, stats, _bloom, base = self._resolve_snapshot(entry)

        def pred(df: DataFrame) -> DataFrame:
            c = F.col(col)
            if lo is not None:
                df = df.filter(c >= lo)
            if hi is not None:
                df = df.filter(c <= hi)
            return df

        if not stats:
            n = len(files)
            return pred(self.read(version)), {
                "files_total": n, "files_read": n}
        qlo, qhi = _json_stat(lo), _json_stat(hi)
        keep = []
        for name in files:
            s = (stats.get(name) or {}).get(col)
            if s is None:
                keep.append(name)  # no usable stats: conservative
                continue
            fmin, fmax, _nulls = s
            if qhi is not None and fmin is not None and fmin > qhi:
                continue
            if qlo is not None and fmax is not None and fmax < qlo:
                continue
            keep.append(name)
        report = {"files_total": len(files), "files_read": len(keep)}
        if not keep:
            # preserve schema with an empty read of the full snapshot
            return pred(self.read(version).limit(0)), report
        return pred(self._read_files(keep, base)), report

    def read_where_in(
        self,
        col: str,
        values: list,
        version: int | None = None,
    ) -> tuple[DataFrame, dict]:
        """IN-list Bloom pruning: a file is read iff at least ONE probe
        value passes its bitmap (files proving every value absent are
        dropped); the exact IN predicate is re-applied. Degenerates to
        ``read_where_eq`` for a single value; conservative without
        bitmaps — same contract family as the other read_where_*."""
        from pyspark.sql import functions as F

        if not values:
            raise ValueError("read_where_in needs a non-empty IN list")
        if version is None:
            version = self.latest_version()
            if version is None:
                raise ValueError(f"{self.root}: no commits yet")
        entry = self._entry(version)
        files, _stats, bloom, base = self._resolve_snapshot(entry)

        def pred(df: DataFrame) -> DataFrame:
            return df.filter(F.col(col).isin(values))

        if _bloom_has_col(bloom, col):
            for v in values:
                _check_bloom_probe(col, v)
        if not bloom:
            n = len(files)
            return pred(self.read(version)), {
                "files_total": n, "files_read": n}
        pos: dict = {}  # (value, bits, k) -> positions, computed lazily
        keep = []
        for name in files:
            info = (bloom.get(name) or {}).get(col)
            if info is None:
                keep.append(name)
                continue
            words = info["words"]
            any_hit = False
            for v in values:
                key = (v, info["bits"], info["k"])
                if pos.get(key) is None:
                    pos[key] = _bloom_positions(
                        v, info["bits"], info["k"])
                hit = True
                for p in pos[key]:
                    w = int(words.get(str(p // _BLOOM_WORD), 0))
                    if not (w >> (p % _BLOOM_WORD)) & 1:
                        hit = False
                        break
                if hit:
                    any_hit = True
                    break
            if any_hit:
                keep.append(name)
        report = {"files_total": len(files), "files_read": len(keep)}
        if not keep:
            return pred(self.read(version).limit(0)), report
        return pred(self._read_files(keep, base)), report

    def read_where_all(
        self,
        preds: dict,
        version: int | None = None,
        eq: dict | None = None,
    ) -> tuple[DataFrame, dict]:
        """Conjunctive pruning: ``preds`` maps column → (lo, hi)
        (either bound may be None) and ``eq`` maps column → probe
        value (Bloom-checked); a file is read only if EVERY range
        predicate intersects its stats AND every equality probe passes
        its Bloom bitmap — on a Z-ordered layout with a bloom key the
        intersection prunes multiplicatively across dims AND the
        point key. Same exactness contract as ``read_where`` (which
        this generalizes: one range entry ≡ read_where; one eq entry ≡
        read_where_eq); columns without stats/bitmaps contribute no
        pruning, never wrong answers."""
        from pyspark.sql import functions as F

        if version is None:
            version = self.latest_version()
            if version is None:
                raise ValueError(f"{self.root}: no commits yet")
        entry = self._entry(version)
        files, stats, bloom, base = self._resolve_snapshot(entry)
        eq = eq or {}
        for col, value in eq.items():
            if _bloom_has_col(bloom, col):
                _check_bloom_probe(col, value)

        def pred(df: DataFrame) -> DataFrame:
            for col, (lo, hi) in preds.items():
                if lo is not None:
                    df = df.filter(F.col(col) >= lo)
                if hi is not None:
                    df = df.filter(F.col(col) <= hi)
            for col, value in eq.items():
                df = df.filter(F.col(col) == value)
            return df

        if not stats and not bloom:
            n = len(files)
            return pred(self.read(version)), {
                "files_total": n, "files_read": n}
        keep = []
        for name in files:
            fstats = stats.get(name)
            ok = True
            for col, (lo, hi) in preds.items():
                s = (fstats or {}).get(col)
                if s is None:
                    continue  # no stats for this col: can't prune on it
                fmin, fmax, _nulls = s
                qlo, qhi = _json_stat(lo), _json_stat(hi)
                if qhi is not None and fmin is not None and fmin > qhi:
                    ok = False
                    break
                if qlo is not None and fmax is not None and fmax < qlo:
                    ok = False
                    break
            if ok:
                for col, value in eq.items():
                    info = (bloom.get(name) or {}).get(col)
                    if info is None:
                        continue  # no bitmap: can't prune on it
                    words = info["words"]
                    for p in _bloom_positions(
                        value, info["bits"], info["k"]
                    ):
                        w = int(words.get(str(p // _BLOOM_WORD), 0))
                        if not (w >> (p % _BLOOM_WORD)) & 1:
                            ok = False  # proven absent
                            break
                    if not ok:
                        break
            if ok:
                keep.append(name)
        report = {"files_total": len(files), "files_read": len(keep)}
        if not keep:
            return pred(self.read(version).limit(0)), report
        return pred(self._read_files(keep, base)), report

    def read_where_eq(
        self,
        col: str,
        value,
        version: int | None = None,
    ) -> tuple[DataFrame, dict]:
        """Bloom-pruned point read: keep only the files whose Bloom
        bitmap for ``col`` has ALL probe bits set for ``value`` (a
        Bloom miss PROVES absence; a hit may be a false positive, so
        the exact equality predicate is re-applied — result identical
        to full scan + filter, same contract as ``read_where``). Files
        without a bitmap, and versions committed without
        ``bloom_cols``, are kept conservatively.

        This is the skipping rung for point predicates on columns the
        layout does not sort: after a Z-order on (a, b), min/max for
        an unrelated high-cardinality key spans the whole domain in
        every file and ``read_where`` keeps everything, while the
        bitmap prunes to the handful of files that actually contain
        the key. ``value`` must render to the same string Spark's
        cast-to-string produces (int/string keys)."""
        from pyspark.sql import functions as F

        if version is None:
            version = self.latest_version()
            if version is None:
                raise ValueError(f"{self.root}: no commits yet")
        entry = self._entry(version)
        files, _stats, bloom, base = self._resolve_snapshot(entry)

        def pred(df: DataFrame) -> DataFrame:
            return df.filter(F.col(col) == value)

        if _bloom_has_col(bloom, col):
            _check_bloom_probe(col, value)
        if not bloom:
            n = len(files)
            return pred(self.read(version)), {
                "files_total": n, "files_read": n}
        keep = []
        for name in files:
            info = (bloom.get(name) or {}).get(col)
            if info is None:
                keep.append(name)  # no bitmap for this col: keep
                continue
            words = info["words"]
            hit = True
            for p in _bloom_positions(value, info["bits"], info["k"]):
                w = int(words.get(str(p // _BLOOM_WORD), 0))
                if not (w >> (p % _BLOOM_WORD)) & 1:
                    hit = False  # proven absent
                    break
            if hit:
                keep.append(name)
        report = {"files_total": len(files), "files_read": len(keep)}
        if not keep:
            return pred(self.read(version).limit(0)), report
        return pred(self._read_files(keep, base)), report

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

    def upsert(
        self,
        updates: DataFrame,
        key: str | list[str],
        max_retries: int = 10,
    ) -> int:
        """MERGE-shaped commit (dbt's incremental `merge` strategy /
        Delta MERGE INTO, last-writer-wins by key): rows whose key
        matches an update are replaced, new keys are inserted,
        untouched rows carry over. One anti-join + union — O(table)
        write but O(batch) shuffle on the key; published as a single
        atomic commit. For versioned SCD2 history use
        ``Runner.merge_refresh`` instead."""
        keys = [key] if isinstance(key, str) else list(key)
        for _ in range(max_retries):
            base_version = self.latest_version()
            if base_version is None:
                # bootstrap: the whole batch IS the table (still CAS'd —
                # a rival seeding v0 first triggers a rebase)
                merged = updates
            else:
                existing = self.read(base_version)
                keep = existing.join(
                    updates.select(*keys).distinct(), keys, "left_anti"
                )
                merged = keep.unionByName(updates.select(existing.columns))
            data_dir = f"data-{uuid.uuid4().hex[:12]}"
            merged.write.mode("overwrite").parquet(
                os.path.join(self.root, data_dir)
            )
            try:
                # CAS on the base version: a concurrent commit means our
                # snapshot is stale — rebase on the winner and recompute
                # (never blind-retry, which would silently revert it)
                return self._commit_entry(
                    data_dir, "upsert", max_retries=1,
                    expected_latest=base_version,
                )
            except CommitConflict:
                continue
        raise CommitConflict(f"{self.root}: upsert lost {max_retries} races")

    def delete(
        self,
        keys: DataFrame,
        key: str | list[str],
        max_retries: int = 10,
    ) -> int:
        """DELETE-shaped commit (Delta ``DELETE WHERE key IN ...`` /
        the CDC_FLAG='D' half of MERGE): rows whose key matches are
        dropped, everything else carries over, published as a single
        atomic commit with ``op='delete'`` in the log entry. The
        removed rows surface in ``changes()`` as
        ``_change_type='delete'`` tombstone rows of this version step.
        CAS on the base version like ``upsert``: losing a race rebases
        on the winner's data and re-derives the anti-join."""
        key_cols = [key] if isinstance(key, str) else list(key)
        for _ in range(max_retries):
            base_version = self.latest_version()
            if base_version is None:
                raise ValueError(f"{self.root}: no commits yet")
            remaining = self.read(base_version).join(
                keys.select(*key_cols).distinct(), key_cols, "left_anti"
            )
            data_dir = f"data-{uuid.uuid4().hex[:12]}"
            remaining.write.mode("overwrite").parquet(
                os.path.join(self.root, data_dir)
            )
            try:
                return self._commit_entry(
                    data_dir, "delete", max_retries=1,
                    expected_latest=base_version,
                )
            except CommitConflict:
                continue
        raise CommitConflict(f"{self.root}: delete lost {max_retries} races")

    def partitioned_upsert(
        self,
        updates: DataFrame,
        key: str | list[str],
        partition_col: str,
        max_retries: int = 10,
        keys_move_partitions: bool = False,
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
        one leaf read per partition; ``vacuum`` keeps every directory
        any kept manifest references; ``compact()`` folds a
        fragmented manifest back into a single plain snapshot.

        The first partitioned_upsert on a plain (or empty) table
        rewrites it once in full to establish the manifest.

        Constraints: partition values must be non-null simple scalars
        whose ``str()`` matches Spark's partition-directory naming
        (ints, alnum strings — e.g. a hash-prefix bucket column);
        the affected-value ``collect()`` is partition-count-sized
        metadata, never data.

        **The pruned path is only sound when ``partition_col`` is a
        function of the key** (e.g. ``fp_bucket = hash(fingerprint)
        % B``): the anti-join scans only the batch's partitions, so a
        key whose partition value CHANGED between commits would leave
        its old row alive in the untouched partition — duplicate keys,
        lost MERGE semantics (Delta/Iceberg dynamic-partition MERGE
        has the same precondition). ``keys_move_partitions=False``
        (default) declares that dependence and cheap-checks it on the
        batch (a key present under two partition values in one batch
        proves the column is NOT key-derived → ``ValueError``).
        ``keys_move_partitions=True`` drops the assumption and
        anti-joins the FULL manifest by key — correct for moving keys
        but O(table) per batch, the same cost as plain ``upsert``.

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
        if not keys_move_partitions and check_key_spread:
            # callers that DERIVED partition_col as a deterministic
            # per-row expression over the key columns may pass
            # check_key_spread=False: such a column provably can't put
            # one key under two values in a batch, and the groupBy
            # probe is one whole-batch aggregation job saved per merge
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
                    "of the key; pass keys_move_partitions=True (full "
                    "anti-join per batch) or derive the partition from "
                    "the key"
                )
        for _ in range(max_retries):
            base_version = self.latest_version()
            base_entry = (
                self._entry(base_version) if base_version is not None else None
            )
            if overwrite:
                # full-replace bootstrap: every value in `updates` ends
                # up in this commit's dir, so the touched-value set can
                # be LISTED from the written key=value dirs post-write
                # instead of collected pre-write — the pre-write
                # distinct() would execute the (possibly expensive)
                # upstream plan a second time
                merged = updates
                prev_parts = {}
                vals = None
            else:
                vals = sorted(
                    str(r[0])
                    for r in updates.select(partition_col)
                    .distinct().collect()
                )
            if overwrite:
                pass
            elif (
                base_entry is not None
                and base_entry.get("part_col") == partition_col
                and not keys_move_partitions
            ):
                # pruned path: merge only the touched partitions
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
                if existing is None:
                    merged = updates
                else:
                    keep = existing.join(
                        updates.select(*keys).distinct(), keys, "left_anti"
                    )
                    merged = keep.unionByName(
                        updates.select(existing.columns)
                    )
            elif base_entry is not None:
                # full rewrite: plain → partitioned transition, or
                # keys_move_partitions=True (the anti-join must see
                # EVERY partition so a key's old row in its previous
                # partition is dropped, not carried forward)
                if internal:
                    # internal reads drop the partition column, so the
                    # full-rewrite path (which anti-joins the whole
                    # read) can't reconstruct it for carried rows
                    raise ValueError(
                        f"{self.root}: internal-partition merge needs "
                        f"an existing {partition_col!r} manifest with "
                        "keys_move_partitions=False; bootstrap or "
                        "re-partition with overwrite=True"
                    )
                existing = self.read(base_version)
                keep = existing.join(
                    updates.select(*keys).distinct(), keys, "left_anti"
                )
                merged = keep.unionByName(updates.select(existing.columns))
                prev_parts = {}
                vals = sorted(
                    str(r[0])
                    for r in merged.select(partition_col)
                    .distinct()
                    .collect()
                )
            else:
                merged = updates
                prev_parts = {}
            data_dir = f"data-{uuid.uuid4().hex[:12]}"
            if internal:
                # cluster by partition value before the partitionBy
                # write: otherwise every shuffle task writes a sliver
                # into every touched partition dir — O(tasks × values)
                # small files per commit, the classic dynamic-partition
                # write explosion
                merged = merged.repartition(F.col(partition_col))
            merged.write.mode("overwrite").partitionBy(partition_col).parquet(
                os.path.join(self.root, data_dir)
            )
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
            parts = {**prev_parts, **{v: data_dir for v in vals}}
            extra = {
                "parts": parts,
                "part_col": partition_col,
                "part_type": dtype,
            }
            if internal:
                extra["part_internal"] = True
            try:
                return self._commit_entry(
                    data_dir,
                    op,
                    max_retries=1,
                    expected_latest=base_version,
                    extra=extra,
                )
            except CommitConflict:
                continue
        raise CommitConflict(
            f"{self.root}: partitioned_upsert lost {max_retries} races"
        )

    def read_conformed(self, version: int) -> DataFrame:
        """Time travel with schema evolution: the old snapshot presented
        in the LATEST version's schema — columns added since then come
        back NULL, dropped ones disappear, changed types cast. Lets
        code written against today's schema consume any historical
        version (the Delta/Iceberg schema-merge read behavior)."""
        from pyspark.sql import functions as F

        current = self.read().schema
        old = self.read(version)
        cols = [
            F.col(f.name).cast(f.dataType).alias(f.name)
            if f.name in old.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in current.fields
        ]
        return old.select(cols)

    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Change data feed between two versions (Delta CDF-shaped):
        rows only in ``to`` are ``insert``, rows only in ``from`` are
        ``delete`` — an updated row appears as one of each. Multiset
        semantics via exceptAll, so duplicate rows diff correctly.
        Cost: two anti-diffs over the two snapshots — O(both sides),
        which is the floor without per-commit row lineage."""
        from pyspark.sql import functions as F

        if to_version is None:
            to_version = self.latest_version()
        new = self.read(to_version)
        old = self.read(from_version)
        if [
            (f.name, f.dataType) for f in old.schema.fields
        ] != [(f.name, f.dataType) for f in new.schema.fields]:
            # schema evolution between the versions: conform the old
            # snapshot to the TO schema (added cols NULL, dropped cols
            # gone) so the multiset diff is well-defined
            cols = [
                F.col(f.name).cast(f.dataType).alias(f.name)
                if f.name in old.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in new.schema.fields
            ]
            old = old.select(cols)
        inserts = new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
        deletes = old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
        return inserts.unionByName(deletes)

    def compact(
        self,
        target_files: int = 1,
        max_retries: int = 10,
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

        Skipping metadata SURVIVES compaction: whichever of
        stats/bloom the source version carried is re-derived for the
        rewritten files (same columns, same bloom sizing) — otherwise
        routine maintenance would silently turn every pruned read
        back into a full scan."""
        if zorder and range_by:
            raise ValueError("compact: zorder and range_by are exclusive")
        for _ in range(max_retries):
            latest = self.latest_version()
            if latest is None:
                raise ValueError(f"{self.root}: no commits yet")
            src = self._entry(latest)
            if zorder:
                from dbt_tpcdi_spark.operators.layout import (
                    zorder_repartition_normalized,
                )

                df = zorder_repartition_normalized(
                    self.read(latest), zorder[0], zorder[1],
                    target_files,
                )
            elif range_by:
                df = self.read(latest).repartitionByRange(
                    target_files, *range_by
                )
            else:
                df = self.read(latest).coalesce(target_files)
            data_dir = f"data-{uuid.uuid4().hex[:12]}"
            df.write.mode("overwrite").parquet(
                os.path.join(self.root, data_dir)
            )
            extra = {}
            # r10 appends DO carry merged per-file manifests, but an
            # append lineage can still be manifest-less if it stems
            # from a skipping-less base, so a compact that follows
            # appends must RESTORE skipping, not drop it. The scan is
            # bounded to the CURRENT snapshot's append lineage —
            # newest-first, stopping at the newest non-append entry —
            # so compacting a table whose latest plain commit
            # deliberately dropped skipping does NOT resurrect a
            # superseded config from pre-rewrite history.
            src_stats = src.get("stats")
            src_bloom_src = src.get("bloom")
            if src_stats is None or src_bloom_src is None:
                for e in reversed(self.versions()):
                    if e["version"] > latest:
                        continue
                    if src_stats is None and e.get("stats"):
                        src_stats = e["stats"]
                    if src_bloom_src is None and e.get("bloom"):
                        src_bloom_src = e["bloom"]
                    if (src_stats is not None
                            and src_bloom_src is not None):
                        break
                    if e.get("op") != "append":
                        break  # left the append lineage
            if src_stats:
                cols = sorted({
                    c for f in src_stats.values() for c in (f or {})
                })
                if cols:
                    extra["stats"] = _file_stats(
                        os.path.join(self.root, data_dir), cols
                    )
            src_bloom = src_bloom_src
            if src_bloom:
                sizing: dict[str, tuple[int, int]] = {}
                for f in src_bloom.values():
                    for c, info in (f or {}).items():
                        sizing[c] = (info["bits"], info["k"])
                bl: dict = {}
                for c, (bits, k) in sizing.items():
                    part = _bloom_stats(
                        self.spark, os.path.join(self.root, data_dir),
                        [c], bits=bits, hashes=k,
                    )
                    for name, fb in part.items():
                        bl.setdefault(name, {}).update(fb)
                extra["bloom"] = bl
            try:
                # CAS like upsert: this snapshot derives from `latest`,
                # so losing the race must rebase on the winner's data,
                # never re-link the stale compaction over it
                return self._commit_entry(
                    data_dir, f"compact({latest})", max_retries=1,
                    expected_latest=latest, extra=extra or None,
                )
            except CommitConflict:
                continue
        raise CommitConflict(f"{self.root}: compact lost {max_retries} races")

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
