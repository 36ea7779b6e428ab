"""Keyed table store — the persistent-upsert layer behind O4/O5.

Reference: the NiFi processors' entire purpose is incremental writes
into a keyed MongoDB collection — bulk upserts at
PartialUpdateMongo.java:431-454 (UpdateOptions().upsert(true) :446,
unordered :451) and duplicate-checked inserts at
PutMongoWithDuplicateCheck.java:142-157 — with a provenance SEND per
external write (PartialUpdateMongo.java:255,
PutMongoWithDuplicateCheck.java:149).

Spark mapping: a hash-bucketed parquet table with a MANIFEST-BASED
commit protocol (a minimal transaction log — the same shape as Delta
Lake's, which this environment ships without):

- Layout::

      <path>/_segments/<uuid>/_bucket=N/part-*.parquet   immutable data
      <path>/_manifests/v0000000007-<uuid>.json          versioned manifests
      <path>.lock.d/{baton | held-<ts_ms>-<uuid>}        writer-lock token

  A manifest maps every bucket id to the LIST of segment dirs holding
  its current rows (plus the table schema). Segment dirs are immutable
  once referenced; a commit writes a brand-new segment, then publishes
  a new manifest version. Readers resolve the highest manifest version
  and read exactly the files it names.
- Commit atomicity: the manifest is written to a dot-temp file and
  `rename`d to its final versioned name — one atomic metadata op. A
  reader therefore sees the table fully pre-commit or fully
  post-commit, never mid-swap (no bucket dir is ever renamed, so none
  is ever absent). A writer crash before publish leaves only an
  unreferenced segment — invisible to every reader, garbage-collected
  by the next writer.
- One commit path: every writer (init, merge, put_if_absent, delete,
  compact, restore) commits through `_commit` — lock, GC, manifest
  resolve, txn skip, provenance, touched-bucket guard, bucket-map
  update, version + 1 publish, auto-compaction. A writer only builds
  its segment and says which buckets it replaces or appends to.
- merge(batch): the incremental path. Only the buckets containing the
  batch's keys are READ (the manifest prunes the listing driver-side —
  untouched buckets' files are never even listed) and only those
  buckets are REWRITTEN (their manifest entries point at the new
  segment; untouched entries carry over). Work per batch scales with
  touched-buckets/total, not table size.
- put_if_absent(batch): appends only first-occurrence-new-key rows
  (operators/put_if_absent.py single-pass tag) as a new segment;
  touched buckets' manifest entries gain one dir. Existing files are
  never rewritten, and the append is exactly as atomic as merge —
  crash-before-publish inserts nothing.
- compact(): rewrites buckets fragmented across many part-files into
  one segment (the Delta OPTIMIZE analog); work scales with
  fragmentation, not table size.
- Routing counts (the modifiedCount analog, PartialUpdateMongo.java:
  253-275) come from `DataFrame.observe` metrics collected DURING the
  single write job — no second pass over the plan — and land in a
  provenance SEND event per merge, mirroring the reference's
  StopWatch-around-send pattern (:458,467-479).

Concurrency:

- Writers serialize on a single BATON TOKEN file (fail-fast
  ConcurrentWriterError): acquire/stale-break/release are all atomic
  RENAMES of the exact token name the writer observed, so every
  transition is a compare-and-swap — one winner per race by
  construction, and since the acquisition timestamp lives in the
  held-token's NAME, a just-taken lock is never stale-looking even for
  an instant (see the protocol comment at `_write_lock`). A crashed
  holder's token ages past `lock_stale_sec` and becomes breakable.
- Readers take no lock: snapshot isolation comes from the manifest.
  Retention: unreferenced segments and superseded manifests are only
  GC'd once older than `lock_stale_sec`, so a reader has that long to
  finish a resolved snapshot (the Delta VACUUM-retention trade-off).
- Residual limit (documented, not defended): staleness judgment trusts
  the writers' clocks (a writer whose clock runs `lock_stale_sec`
  ahead could break a live lock), and object stores without atomic
  rename (S3) break both the baton and the manifest commit — a real
  lock service / transaction log is the answer there; on HDFS-like
  stores this single-writer + manifest protocol is the standard
  compromise.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.partial_update import PartialUpdateConfig, partial_update
from ..operators.put_if_absent import tag_put_if_absent
from ..operators.routing import ROUTE_COL
from ..provenance import ProvenanceLog

BUCKET_COL = "_bucket"
SEGMENTS = "_segments"
MANIFESTS = "_manifests"


class ConcurrentWriterError(RuntimeError):
    """A second writer holds the store's lock (fail-fast, no corruption)."""


class StoreNotInitializedError(FileNotFoundError):
    """No manifest published yet — call init() first."""


@dataclass
class MergeMetrics:
    """Per-merge operation metrics (Delta-operation-metrics analog)."""

    updated: int
    unmodified: int
    inserted: int


@dataclass
class _Change:
    """One writer's part of a commit; `KeyedParquetStore._commit` does
    the rest."""

    result: object = None  # what the writer returns to its caller
    n_rows: int = 0  # rows its provenance SEND reports
    fields: dict = field(default_factory=dict)  # manifest fields it sets
    seg: str | None = None  # the segment it wrote, if any
    present: set[int] = field(default_factory=set)  # buckets `seg` holds
    touched: list[int] = field(default_factory=list)  # buckets `seg` may hold
    append: bool = False  # present buckets gain `seg` (else touched ones hold only it)
    base: dict | None = None  # manifest carried over (None: the latest)


@dataclass
class KeyedParquetStore:
    spark: SparkSession
    path: str
    keys: list[str]
    n_buckets: int = 64
    provenance: ProvenanceLog = field(default_factory=ProvenanceLog)
    # A writer crashing mid-merge leaves its lock behind; a later writer
    # may break locks older than this (seconds). Doubles as the GC
    # retention window for superseded segments/manifests (see module doc).
    lock_stale_sec: float = 3600.0
    # Auto-compaction policy: when set, merge()/put_if_absent() run
    # compact_if(auto_compact_files) after their commit, so long-running
    # merge loops (foreachBatch ingest above all) keep every bucket's
    # part-file count bounded without an operator remembering to call
    # compact(). None = manual compaction only.
    auto_compact_files: int | None = None
    # GC amortization: _gc parses every RETAINED manifest and lists
    # every segment dir — O(versions-in-retention-window) driver I/O.
    # At the default 1 it runs on every commit (strictest reclamation,
    # what the tests pin); a tight foreachBatch ingest (5s batches x
    # 1h retention = ~720 retained manifests) should raise this to ~16
    # so only every Nth commit pays the sweep — retention semantics
    # are unchanged, deletion is merely deferred <= N commits.
    gc_every_commits: int = 1
    # Test seam: called after every commit's segment write but before
    # its manifest publish — the window concurrent-reader tests probe.
    _pre_publish_hook: Callable[[], None] | None = field(
        default=None, repr=False, compare=False
    )

    def __post_init__(self) -> None:
        # the bucket count REQUESTED at construction: _require_manifest
        # adopts the table's layout into self.n_buckets (any read/merge
        # does), but a subsequent init() must honor what the caller
        # asked for, not the layout of the table being replaced.
        self._requested_n_buckets = self.n_buckets
        self._commits_since_gc = 0

    def _reject_reserved(self, df: DataFrame, op: str) -> None:
        clash = [c for c in df.columns if c in (BUCKET_COL, ROUTE_COL)]
        if clash:
            raise ValueError(
                f"store {self.path}: {op} input carries reserved "
                f"column(s) {clash} — {BUCKET_COL!r} is the bucket "
                f"partition id (a user column of that name would be "
                f"overwritten by the hash and read back NULL, since it "
                f"lands in directory names, not data files) and "
                f"{ROUTE_COL!r} is the internal routing tag; rename them"
            )

    def _bucket_of(self) -> Column:
        return F.pmod(F.xxhash64(*[F.col(k) for k in self.keys]), F.lit(self.n_buckets))

    # --- filesystem layer (Hadoop FS: works on local + HDFS) -----------

    def _fs(self):
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(self.path)
        conf = self.spark.sparkContext._jsc.hadoopConfiguration()
        return jpath.getFileSystem(conf), jvm.org.apache.hadoop.fs.Path

    def _read_text(self, fs, jpath) -> str:
        stream = fs.open(jpath)
        try:
            return self.spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    def _write_text(self, fs, jpath, text: str) -> None:
        out = fs.create(jpath, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    # --- writer lock ---------------------------------------------------
    #
    # Baton protocol: the lock state is ONE token file inside
    # `<path>.lock.d/`, either
    #     baton                      — lock free
    #     held-<ts_ms>-<uuid>        — lock held since <ts_ms>
    # Every transition is a RENAME of the exact token name the writer
    # just observed: acquire = rename(baton -> held-me), stale-break =
    # rename(held-dead -> held-me). Rename's source vanishing makes each
    # transition a compare-and-swap — of N racing writers exactly one
    # rename succeeds, and because the acquisition TIMESTAMP IS IN THE
    # NAME, a freshly taken lock is never stale-looking for even an
    # instant, so no racing breaker can displace a fresh lock.
    # Release = rename(held-me -> baton); a crashed
    # holder's token simply ages past lock_stale_sec and becomes
    # breakable. S3-style stores without atomic rename need a real lock
    # service instead (same caveat as the manifest commit).

    def _lock_dir(self) -> str:
        return self.path + ".lock.d"

    def _held_tokens(self, fs, Path) -> list[str]:
        ldir = Path(self._lock_dir())
        if not fs.exists(ldir):
            return []
        return sorted(
            s.getPath().getName()
            for s in fs.listStatus(ldir)
            if s.getPath().getName().startswith("held-")
        )

    @contextmanager
    def _write_lock(self):
        """Serialize writers via the baton protocol above (fail-fast)."""
        fs, Path = self._fs()
        ldir = self._lock_dir()
        fs.mkdirs(Path(ldir))
        entries = sorted(
            s.getPath().getName() for s in fs.listStatus(Path(ldir))
        )
        held = [e for e in entries if e.startswith("held-")]
        # Nanosecond timestamp: the name encodes BOTH staleness and the
        # total order verification resolves by — later acquirers sort
        # strictly larger, so earliest-token-wins is tie-free.
        me = f"held-{time.time_ns():019d}-{uuid.uuid4().hex}"
        if held:
            # Oldest-first: if strays ever exist, the oldest is the one
            # whose age is binding.
            ts_ns = int(held[0].split("-")[1])
            age = time.time() - ts_ns / 1e9
            if age < self.lock_stale_sec:
                raise ConcurrentWriterError(
                    f"store {self.path} is locked by another writer "
                    f"({age:.0f}s old; stale after {self.lock_stale_sec:.0f}s)"
                )
            src = held[0]  # stale: break it by taking its exact identity
        elif "baton" in entries:
            src = "baton"
        else:
            # Bootstrap: no token observed. createNewFile is atomic, so
            # N first-comers mint ONE baton; all then contend on its
            # rename. It can also throw (local RawLocalFileSystem's
            # create+chmod racing another writer's rename of the file)
            # — either way, contended. Re-list to catch a token a
            # racing rename hid from our readdir — defer if one
            # surfaced (a local-FS artifact: HDFS serializes namespace
            # ops, so a listing there can't miss a mid-rename token).
            try:
                minted = fs.createNewFile(Path(f"{ldir}/baton"))
            except Exception as e:
                raise ConcurrentWriterError(
                    f"store {self.path}: lock contended during bootstrap"
                ) from e
            post = self._held_tokens(fs, Path)
            if post:
                # The dir wasn't really empty — a held token was mid-
                # rename during our readdir. Our baton is a stray;
                # remove it before deferring, or the holder's release
                # rename would find its destination occupied.
                if minted:
                    try:
                        fs.delete(Path(f"{ldir}/baton"), False)
                    except Exception:
                        pass
                raise ConcurrentWriterError(
                    f"store {self.path}: lock contended during bootstrap"
                )
            src = "baton"
        try:
            won = fs.rename(Path(f"{ldir}/{src}"), Path(f"{ldir}/{me}"))
        except Exception:
            won = False
        if not won:
            raise ConcurrentWriterError(
                f"store {self.path}: lost lock race (token {src} was taken)"
            )
        # Post-acquire verification (local-FS hardening): a readdir that
        # raced a rename can have shown a contender an empty dir, so a
        # stray baton may have been minted and won by someone else —
        # two held tokens. Resolve deterministically: smallest token
        # name wins (both sides see the same stable names and agree);
        # the loser deletes its own token (its unique name is fresh, so
        # no breaker ever targets it) and backs off. A surviving stray
        # free baton is deleted under our exclusivity.
        co = [t for t in self._held_tokens(fs, Path) if t != me]
        if co and min(co) < me:
            fs.delete(Path(f"{ldir}/{me}"), False)
            raise ConcurrentWriterError(
                f"store {self.path}: lost lock race (concurrent token {min(co)})"
            )
        try:
            fs.delete(Path(f"{ldir}/baton"), False)
        except Exception:
            pass
        try:
            yield
        finally:
            # Hand the baton back. A stray baton (bootstrap race) can
            # occupy the destination — clear it and retry once. If the
            # rename still fails, the held token stays behind and ages
            # out — no worse than a crash.
            try:
                if not fs.rename(Path(f"{ldir}/{me}"), Path(f"{ldir}/baton")):
                    fs.delete(Path(f"{ldir}/baton"), False)
                    fs.rename(Path(f"{ldir}/{me}"), Path(f"{ldir}/baton"))
            except Exception:
                pass

    # --- manifest layer ------------------------------------------------

    def _latest_manifest(self, fs, Path) -> dict | None:
        mdir = Path(f"{self.path}/{MANIFESTS}")
        if not fs.exists(mdir):
            return None
        best = None
        for entry in fs.listStatus(mdir):
            name = entry.getPath().getName()
            if not (name.startswith("v") and name.endswith(".json")):
                continue
            if best is None or name > best:  # zero-padded version sorts
                best = name
        if best is None:
            return None
        return json.loads(self._read_text(fs, Path(f"{self.path}/{MANIFESTS}/{best}")))

    def _require_manifest(self, fs, Path) -> dict:
        man = self._latest_manifest(fs, Path)
        if man is None:
            raise StoreNotInitializedError(
                f"store {self.path}: no manifest — init() the table first"
            )
        # The manifest is the source of truth for the bucket layout: a
        # handle constructed with a different n_buckets would hash keys
        # into buckets the manifest has no entries for, silently reading
        # existing rows as absent (dropped updates / duplicate inserts).
        # Adopt the table's layout instead; the constructor value only
        # matters at init().
        self.n_buckets = int(man.get("n_buckets", self.n_buckets))
        return man

    def _manifest_at(self, fs, Path, version: int) -> dict:
        """Resolve a specific retained manifest version (time travel).
        Raises if the version was never published or was GC'd past the
        retention window."""
        mdir = Path(f"{self.path}/{MANIFESTS}")
        prefix = f"v{version:010d}"
        if fs.exists(mdir):
            for entry in fs.listStatus(mdir):
                name = entry.getPath().getName()
                if name.startswith(prefix) and name.endswith(".json"):
                    return json.loads(self._read_text(fs, entry.getPath()))
        raise FileNotFoundError(
            f"store {self.path}: version {version} not retained (never "
            f"published, or GC'd after {self.lock_stale_sec:.0f}s retention)"
        )

    def _publish(self, fs, Path, man: dict, op: str = "commit") -> None:
        """One atomic rename = the commit point."""
        man = {**man, "op": op, "ts": time.time()}
        fs.mkdirs(Path(f"{self.path}/{MANIFESTS}"))
        tmp = Path(f"{self.path}/{MANIFESTS}/.tmp-{uuid.uuid4().hex}")
        self._write_text(fs, tmp, json.dumps(man))
        final = Path(
            f"{self.path}/{MANIFESTS}/v{man['version']:010d}-{uuid.uuid4().hex}.json"
        )
        if not fs.rename(tmp, final):
            raise RuntimeError(f"store {self.path}: manifest publish rename failed")

    # --- idempotent-writer transactions --------------------------------
    #
    # The Delta txnAppId/txnVersion pattern: foreachBatch is
    # AT-LEAST-ONCE (a sink failure after commit but before the
    # streaming checkpoint advances makes Structured Streaming replay
    # the whole micro-batch), so a non-idempotent merge — $inc above
    # all — would double-apply on replay. A writer that passes
    # txn=(app_id, version) gets exactly-once semantics: the manifest
    # records the highest version applied per app_id, and a commit
    # whose version is <= the recorded watermark is skipped entirely
    # (no read, no write, no new manifest). Versions must be
    # monotonically increasing per app_id — foreachBatch epoch ids are
    # exactly that. restore() reverts the watermarks along with the
    # data (they live in the same manifest), so rolling a table back
    # deliberately re-opens the door for the undone epochs — the
    # behavior you want when replaying a bad range.

    def _txn_applied(self, man: dict, txn: tuple[str, int] | None) -> bool:
        if txn is None:
            return False
        app_id, version = txn
        return int(man.get("txns", {}).get(str(app_id), -(2**62))) >= int(version)

    def _txn_advance(self, man: dict, txn: tuple[str, int] | None) -> dict:
        """txns map for the next manifest: carry the old watermarks,
        advance this writer's."""
        txns = dict(man.get("txns", {}))
        if txn is not None:
            app_id, version = txn
            txns[str(app_id)] = int(version)
        return txns

    def _schema(self, man: dict) -> StructType:
        return StructType.fromJson(json.loads(man["schema"]))

    @staticmethod
    def _dirs(man: dict, buckets=None) -> list[str]:
        """Segment dirs `man` lists for `buckets` (ids, default all)."""
        ids = man["buckets"] if buckets is None else buckets
        return [d for b in ids for d in man["buckets"].get(str(b), [])]

    @staticmethod
    def _conform(df: DataFrame, schema: StructType) -> DataFrame:
        """`df` as `schema`: present fields cast (plan-level casts
        bridge what a parquet scan can't, decimal→double etc.), absent
        ones typed NULLs (old files lack a column added since)."""
        cols = set(df.columns)
        return df.select(
            *[
                (
                    F.col(f.name).cast(f.dataType)
                    if f.name in cols
                    else F.lit(None).cast(f.dataType)
                ).alias(f.name)
                for f in schema.fields
            ]
        )

    # Promotions the parquet scan performs on OLD files read under the
    # NEW manifest schema (verified on this Spark: int32→int64 and
    # float→double widen at scan time; decimal↔double and anything
    # nested do NOT — those need the full-rewrite escalation below).
    _SCAN_SAFE_WIDENINGS = {
        ("byte", "short"), ("byte", "integer"), ("byte", "long"),
        ("short", "integer"), ("short", "long"),
        ("integer", "long"), ("float", "double"),
    }

    def _evolve(self, man: dict, written: DataFrame) -> tuple[StructType, bool]:
        """(manifest schema after writing `written`, whether existing
        files need a rewrite to stay readable under it).

        Operators may widen a column (`$inc` promotes int→long), so the
        new manifest carries the UNION-promoted type per field — Spark's
        own coercion rules via an empty unionByName (analysis only, no
        job). Added fields are scan-safe (absent columns read as NULL),
        and so are the widenings above; any other change to an old
        field — decimal/double flips, nested type changes, dropped
        fields — makes the writer rewrite the whole table in this
        commit (rare, costs one rewrite, keeps every reader correct)."""
        old = self._schema(man)
        new = written.drop(BUCKET_COL).schema
        if new == old:
            return old, False
        evolved = (
            self.spark.createDataFrame([], old)
            .unionByName(
                self.spark.createDataFrame([], new), allowMissingColumns=True
            )
            .schema
        )
        newf = {f.name: f.dataType for f in evolved.fields}
        rewrite = any(
            f.name not in newf
            or (
                newf[f.name] != f.dataType
                and (f.dataType.typeName(), newf[f.name].typeName())
                not in self._SCAN_SAFE_WIDENINGS
            )
            for f in old.fields
        )
        return evolved, rewrite

    def _read_dirs(self, man: dict, dirs: list[str]) -> DataFrame:
        """Read exactly the named bucket dirs (no discovery, no
        partition inference — the manifest IS the file listing). The
        explicit schema also skips the footer-sampling schema merge."""
        schema = self._schema(man)
        if not dirs:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(
            *[f"{self.path}/{d}" for d in dirs]
        )

    @staticmethod
    def _counted(routed: DataFrame, **tags: str):
        """(`routed` counting its rows per `name=route tag`, a function
        returning those counts once the frame's write has run). The
        counters fill DURING the segment-write job — no second pass.

        Under AQE a segment write whose post-route output is EMPTY (an
        all-duplicate put_if_absent batch, an all-drop merge) propagates
        the empty relation over the CollectMetrics node — the node
        vanishes from the executed plan, the observed row arrives
        schemaless, and Observation.get dies in PythonSQLUtils.toPyRow's
        GenericRowWithSchema assertion. The counts then rerun the SAME
        aggregates as one extra (tiny) job; that can only disagree with
        what the write saw for a nondeterministic source, and the
        commit aborts on those (the touched-bucket guard in _commit)."""
        obs = Observation()
        route = F.col(ROUTE_COL)
        aggs = [
            F.sum(F.when(route == tag, 1).otherwise(0)).alias(name)
            for name, tag in tags.items()
        ]

        def counts() -> dict[str, int]:
            try:
                row = obs.get
            except Exception:
                row = routed.agg(*aggs).collect()[0].asDict()
            return {name: int(row[name] or 0) for name in tags}

        return routed.observe(obs, *aggs), counts

    def _write_segment(self, out: DataFrame) -> tuple[str, set[int]]:
        """Write a new immutable segment; returns (rel dir, bucket ids
        present in the output — a bucket all of whose rows dropped has
        no dir and must map to an empty entry)."""
        seg = f"{SEGMENTS}/{uuid.uuid4().hex}"
        # partitionBy alone emits one file per (input partition ×
        # bucket) — a small-files explosion (32 tasks × 64 buckets =
        # 2048 files per write). Repartitioning on the bucket column
        # first makes each task own whole buckets: one file per bucket
        # per write, and write parallelism scales with n_buckets, the
        # store's sizing knob at scale.
        out.repartition(F.col(BUCKET_COL)).write.mode("overwrite").partitionBy(
            BUCKET_COL
        ).parquet(f"{self.path}/{seg}")
        fs, Path = self._fs()
        present = set()
        for entry in fs.listStatus(Path(f"{self.path}/{seg}")):
            name = entry.getPath().getName()
            if name.startswith(f"{BUCKET_COL}="):
                present.add(int(name.split("=", 1)[1]))
        return seg, present

    def _manifest_droppable(self, mdir_entries, latest_version: int, now: float):
        """Per-manifest drop decision keyed on SUPERSESSION time, not
        file age: a version is superseded the moment its successor
        publishes, and a reader who resolved it as latest may have
        done so any time up to that moment — so the retention clock
        starts at the SUCCESSOR's mtime. (Measuring from the
        manifest's own mtime broke the documented reader guarantee
        for tables idle longer than the window: the first commit
        after the idle period would instantly free the snapshot a
        concurrent reader had just resolved.) Returns {name: bool}."""
        versions: list[tuple[int, float, str]] = []
        for entry in mdir_entries:
            name = entry.getPath().getName()
            if name.startswith("v") and name.endswith(".json"):
                versions.append(
                    (
                        int(name[1:11]),
                        entry.getModificationTime() / 1000.0,
                        name,
                    )
                )
        versions.sort()
        droppable: dict[str, bool] = {}
        for i, (v, _mtime, name) in enumerate(versions):
            if v >= latest_version:
                droppable[name] = False
                continue
            successor_mtime = versions[i + 1][1]
            droppable[name] = now - successor_mtime >= self.lock_stale_sec
        return droppable

    def _gc(self, fs, Path) -> None:
        """Run under the freshly-acquired lock: delete superseded
        manifests once their SUCCESSOR is older than lock_stale_sec
        (see _manifest_droppable — retention runs from supersession,
        not file age), and segment bucket dirs once they are BOTH
        older than lock_stale_sec and unreferenced by every manifest
        that survives this pass — so a reader holding a resolved
        snapshot keeps its files for at least the retention window
        after that snapshot stopped being latest, and
        `read(version=)` time travel is sound for every
        still-retained version (the Delta VACUUM-retention
        contract)."""
        self._commits_since_gc += 1
        if self._commits_since_gc < self.gc_every_commits:
            return
        self._commits_since_gc = 0
        root = Path(self.path)
        if not fs.exists(root):
            return
        man = self._latest_manifest(fs, Path)
        latest_version = man["version"] if man else -1
        latest_name = f"v{man['version']:010d}" if man else ""
        now = time.time()
        # Every manifest surviving this pass (latest + young superseded)
        # pins its segment dirs — a retained snapshot may reference dirs
        # far older than itself (carried over across many versions).
        referenced: set[str] = set()
        droppable: dict[str, bool] = {}
        mdir0 = Path(f"{self.path}/{MANIFESTS}")
        if fs.exists(mdir0):
            entries = list(fs.listStatus(mdir0))
            droppable = self._manifest_droppable(entries, latest_version, now)
            for entry in entries:
                name = entry.getPath().getName()
                if not (name.startswith("v") and name.endswith(".json")):
                    continue
                if not droppable.get(name, True):
                    m = json.loads(self._read_text(fs, entry.getPath()))
                    referenced.update(self._dirs(m))
        sdir = Path(f"{self.path}/{SEGMENTS}")
        if fs.exists(sdir):
            for seg in fs.listStatus(sdir):
                seg_rel = f"{SEGMENTS}/{seg.getPath().getName()}"
                live = False
                for entry in fs.listStatus(seg.getPath()):
                    name = entry.getPath().getName()
                    rel = f"{seg_rel}/{name}"
                    if rel in referenced:
                        live = True
                        continue
                    if not name.startswith(f"{BUCKET_COL}="):
                        continue  # _SUCCESS etc. go with the segment
                    if now - entry.getModificationTime() / 1000.0 >= self.lock_stale_sec:
                        fs.delete(entry.getPath(), True)
                if (
                    not live
                    and now - seg.getModificationTime() / 1000.0 >= self.lock_stale_sec
                    and not any(
                        e.getPath().getName().startswith(f"{BUCKET_COL}=")
                        for e in fs.listStatus(seg.getPath())
                    )
                ):
                    fs.delete(seg.getPath(), True)
        mdir = Path(f"{self.path}/{MANIFESTS}")
        if fs.exists(mdir):
            for entry in fs.listStatus(mdir):
                name = entry.getPath().getName()
                stale = now - entry.getModificationTime() / 1000.0 >= self.lock_stale_sec
                if name.startswith(".tmp-") and stale:
                    fs.delete(entry.getPath(), False)
                elif (
                    name.startswith("v")
                    and droppable.get(name, False)
                    and not name.startswith(latest_name)
                ):
                    fs.delete(entry.getPath(), False)

    # --- the commit protocol -------------------------------------------

    def _commit(
        self,
        op: str,
        stage: Callable[..., _Change | None],
        *,
        send: bool = False,
        txn: tuple[str, int] | None = None,
        ingest: bool = False,
    ):
        """The one commit path every writer takes, returning the
        writer's result (None when nothing was published).

        Under the writer lock: GC, resolve the latest manifest (init
        alone may find none — it creates the table), skip an
        already-applied `txn`, then `stage(fs, Path, man)` builds the
        writer's _Change (None: nothing to commit). A commit that wrote
        a segment passes the pre-publish hook and the touched-bucket
        guard, then its buckets are repointed at (or, `append`, gain)
        the segment, and manifest version + 1 is published under `op`.
        `send` wraps all of it in a provenance SEND whose detail is
        `op` (a skipped commit sends 0 rows); `ingest` writers (merge,
        put_if_absent) also advance the txn watermark and run the
        best-effort auto-compaction after the lock is released."""
        scope = self.provenance.send(self.path, detail=op) if send else nullcontext({})
        with scope as ctx, self._write_lock():
            fs, Path = self._fs()
            self._gc(fs, Path)
            if op == "init":  # may create the table; keeps its own n_buckets
                man = self._latest_manifest(fs, Path)
            else:
                man = self._require_manifest(fs, Path)
            if self._txn_applied(man, txn):
                return None
            change = stage(fs, Path, man)
            if change is None:
                return None
            base = man if change.base is None else change.base
            buckets = dict(base.get("buckets", {}))
            if change.seg is not None:
                if self._pre_publish_hook is not None:
                    self._pre_publish_hook()
                # The touched-bucket list and the segment write execute
                # the source plan independently; a NONDETERMINISTIC
                # source can produce rows in buckets the first pass
                # never saw. Those rows were merged / duplicate-checked
                # against an unread (hence empty-looking) target, so
                # committing them would drop existing rows or insert
                # duplicate keys. Abort before publish instead —
                # pre-state intact, the orphan segment is GC'd by a
                # later writer.
                extra = sorted(change.present - set(change.touched))
                if extra:
                    raise RuntimeError(
                        f"store {self.path}: {op} source wrote rows into "
                        f"buckets {extra} missing from its own touched-"
                        "bucket scan — the source DataFrame is "
                        "nondeterministic across executions. "
                        "persist()/checkpoint it and retry (commit "
                        "aborted; table unchanged)."
                    )
                for b in sorted(change.present) if change.append else change.touched:
                    kept = buckets.get(str(b), []) if change.append else []
                    new = [f"{change.seg}/{BUCKET_COL}={b}"] if b in change.present else []
                    buckets[str(b)] = kept + new
            published = {
                **base,
                "version": (man["version"] if man else 0) + 1,
                **change.fields,
                "buckets": buckets,
            }
            if ingest:
                published["txns"] = self._txn_advance(man, txn)
            self._publish(fs, Path, published, op=op)
            ctx["n_rows"] = change.n_rows
        if ingest and self.auto_compact_files is not None:
            # Best-effort maintenance AFTER the published commit: a
            # concurrent writer grabbing the lock here must not make a
            # SUCCESSFUL merge look failed — a foreachBatch caller
            # would replay the batch (and without a txn id, double-
            # apply $inc). The skipped compaction happens on a later
            # commit.
            try:
                self.compact_if(self.auto_compact_files)
            except ConcurrentWriterError:
                pass
        return change.result

    # --- public API ----------------------------------------------------

    def init(self, df: DataFrame) -> None:
        """Full (re)write of the table, bucketed by key hash — at the
        CONSTRUCTOR's n_buckets even if an earlier read of the old
        table adopted a different layout into this handle."""
        self._reject_reserved(df, "init")
        self.n_buckets = self._requested_n_buckets

        def stage(fs, Path, prev):
            seg, present = self._write_segment(
                df.withColumn(BUCKET_COL, self._bucket_of())
            )
            return _Change(
                fields={"schema": df.schema.json(), "n_buckets": self.n_buckets},
                seg=seg,
                present=present,
                touched=list(range(self.n_buckets)),
                base={},
            )

        self._commit("init", stage)

    def read(self, version: int | None = None) -> DataFrame:
        """Lock-free snapshot read: resolve the latest manifest (or a
        specific retained `version` — time travel, exactly the Delta
        `versionAsOf` contract: any version still inside the
        `lock_stale_sec` retention window is readable), read exactly
        its files. A commit racing this read flips atomically — the
        reader sees full pre- or full post-state, never mid-swap."""
        fs, Path = self._fs()
        if version is None:
            man = self._require_manifest(fs, Path)
        else:
            man = self._manifest_at(fs, Path, version)
        return self._read_dirs(man, self._dirs(man))

    def history(self) -> list[dict]:
        """Retained commit log, newest first: one dict per manifest
        (version, op, ts) — the DESCRIBE HISTORY analog. Versions past
        the retention window have been GC'd and don't appear."""
        fs, Path = self._fs()
        mdir = Path(f"{self.path}/{MANIFESTS}")
        out = []
        if fs.exists(mdir):
            for entry in fs.listStatus(mdir):
                name = entry.getPath().getName()
                if not (name.startswith("v") and name.endswith(".json")):
                    continue
                m = json.loads(self._read_text(fs, entry.getPath()))
                out.append(
                    {
                        "version": m["version"],
                        "op": m.get("op", "commit"),
                        "ts": m.get("ts"),
                    }
                )
        return sorted(out, key=lambda m: -m["version"])

    def diff(self, v_old: int, v_new: int | None = None) -> DataFrame:
        """Row-level change feed between two retained versions — the
        CDC / `table_changes` analog, emitting the Delta-CDF change
        types. NEW rows that differ from the old snapshot are tagged
        `insert` (key absent before) or `update_postimage` (key
        present, row changed); OLD rows that differ are tagged
        `update_preimage` (key survives — including rows a match-many
        key LOST without any replacement row, which would otherwise
        vanish from the feed) or `delete` (key gone entirely).

        Work scales with CHANGE, not table size: buckets whose
        manifest entries are identical in both versions are pruned
        driver-side from the manifests alone — their files are never
        listed or read. Each side reads under ITS OWN manifest schema
        (old files may predate a type-changing rewrite); the old side
        is then conformed to the newer schema. Rows are compared with
        exceptAll (NULL-safe, multiset), so stores holding multiple
        rows per key (match-many ingest) diff correctly row-wise; the
        change-type tag is key-granular."""
        fs, Path = self._fs()
        man_old = self._manifest_at(fs, Path, v_old)
        man_new = (
            self._require_manifest(fs, Path)
            if v_new is None
            else self._manifest_at(fs, Path, v_new)
        )
        changed = [
            b
            for b in set(man_old["buckets"]) | set(man_new["buckets"])
            if man_old["buckets"].get(b, []) != man_new["buckets"].get(b, [])
        ]
        old_df = self._conform(
            self._read_dirs(man_old, self._dirs(man_old, changed)),
            self._schema(man_new),
        )
        new_df = self._read_dirs(man_new, self._dirs(man_new, changed))
        changed_new = new_df.exceptAll(old_df)
        changed_old = old_df.exceptAll(new_df)
        old_keys = old_df.select(*self.keys).distinct()
        new_keys = new_df.select(*self.keys).distinct()
        ct = "_change_type"
        inserts = changed_new.join(old_keys, self.keys, "left_anti").withColumn(
            ct, F.lit("insert")
        )
        updates = changed_new.join(old_keys, self.keys, "left_semi").withColumn(
            ct, F.lit("update_postimage")
        )
        preimages = changed_old.join(new_keys, self.keys, "left_semi").withColumn(
            ct, F.lit("update_preimage")
        )
        deletes = changed_old.join(new_keys, self.keys, "left_anti").withColumn(
            ct, F.lit("delete")
        )
        return (
            inserts.unionByName(updates)
            .unionByName(preimages)
            .unionByName(deletes)
        )

    def restore(self, version: int) -> None:
        """Roll the table back to a retained version by publishing a NEW
        manifest carrying that version's bucket map (the RESTORE TABLE
        analog): history moves forward, nothing is rewritten, and the
        restored snapshot's segments are re-pinned as latest (so GC
        keeps them)."""
        self._commit(
            f"restore(v{version})",
            lambda fs, Path, man: _Change(base=self._manifest_at(fs, Path, version)),
        )

    def _touched(self, man: dict, source: DataFrame) -> tuple[list[int], DataFrame]:
        """Bucket ids containing any source key (small driver-side list
        — partition METADATA, bounded by n_buckets, never row data),
        plus the manifest-pruned target scan for exactly those buckets
        (untouched buckets' files are never listed, let alone read)."""
        buckets = [
            r[0]
            for r in source.select(self._bucket_of().alias("b")).distinct().collect()
        ]
        return buckets, self._read_dirs(man, self._dirs(man, buckets))

    def merge(
        self,
        source: DataFrame,
        cfg: PartialUpdateConfig,
        txn: tuple[str, int] | None = None,
    ) -> MergeMetrics:
        """Incremental partial-update merge: read touched buckets,
        apply operators, write ONE new segment, publish the manifest —
        one observed job + one atomic rename.

        The LOCK covers the target read too, not just the write:
        resolving the manifest inside the lock pins the read-modify-
        write cycle to the latest committed state (no lost updates
        between two merges).

        `txn=(app_id, version)` makes the merge IDEMPOTENT for
        replayed versions (foreachBatch epoch replays — see the
        transaction-layer comment above `_txn_applied`): an
        already-applied version returns MergeMetrics(0, 0, 0) and
        leaves the table byte-identical."""
        if cfg.keys != self.keys:
            raise ValueError(
                f"store {self.path}: merge cfg.keys={cfg.keys} must equal "
                f"store keys={self.keys} (bucket pruning hashes the store "
                "keys; a mismatched merge would read the wrong buckets)"
            )
        self._reject_reserved(source, "merge")

        def stage(fs, Path, man):
            buckets, target = self._touched(man, source)
            res = partial_update(target, source, cfg)
            evolved, rewrite = self._evolve(man, res.merged.drop(ROUTE_COL))
            if rewrite:  # every bucket's rows pass through the merge
                buckets = [int(b) for b in man["buckets"]]
                # Conform the full target to the PROMOTED schema before
                # merging: the operator casts upsert-inserts to the
                # target's types, so merging against the old types
                # would round inserted values (e.g. 7.25 → decimal(_,1)
                # → 7.3) on their way to the promoted column.
                full = self._read_dirs(man, self._dirs(man))
                res = partial_update(self._conform(full, evolved), source, cfg)
            observed, counts = self._counted(
                res.merged,
                updated="success",
                unmodified="success-unmodified",
                inserted="insert",
            )
            seg, present = self._write_segment(
                observed.filter(F.col(ROUTE_COL) != "drop")
                .drop(ROUTE_COL)
                .withColumn(BUCKET_COL, self._bucket_of())
            )
            m = MergeMetrics(**counts())
            return _Change(
                result=m,
                n_rows=m.updated + m.inserted,
                fields={"schema": evolved.json()},
                seg=seg,
                present=present,
                touched=buckets,
            )

        return self._commit(
            "merge", stage, send=True, txn=txn, ingest=True
        ) or MergeMetrics(updated=0, unmodified=0, inserted=0)

    def put_if_absent(
        self,
        source: DataFrame,
        order_col: str | None = None,
        txn: tuple[str, int] | None = None,
    ) -> MergeMetrics:
        """Duplicate-checked insert: append first-occurrence-new-key
        rows as a new segment; existing files are never rewritten, and
        the manifest publish makes the whole batch visible atomically
        (crash-before-publish inserts nothing — same guarantee as
        merge). Returns counts (inserted / already-exists) from the
        observed append job. Lock covers the duplicate-check read.
        `txn=(app_id, version)` skips already-applied versions (same
        idempotent-replay contract as merge — note put_if_absent is
        naturally replay-safe ONLY when the replayed batch carries the
        same keys; the txn guard makes it safe unconditionally and
        skips the duplicate-check read entirely on replay)."""
        self._reject_reserved(source, "put_if_absent")

        def stage(fs, Path, man):
            buckets, target = self._touched(man, source)
            observed, counts = self._counted(
                tag_put_if_absent(target, source, self.keys, order_col),
                inserted="success",
                unmodified="already-exists",
            )
            # Keep source columns BEYOND the manifest schema: dropping
            # them silently would lose data, and an added column is a
            # scan-safe evolution (old files read it as NULL).
            base = self._schema(man)
            base_fields = base.fieldNames()
            extra_fields = [
                c for c in source.columns if c not in base_fields and c != ROUTE_COL
            ]
            # Partial documents are legal inserts (the reference's
            # insertOne accepts any document shape): base columns the
            # source lacks are NULL-filled at the table's type — the
            # same contract merge()'s upsert path applies — instead of
            # failing the whole batch on an unresolvable column. Keys
            # are always present (the dedup anti-join resolved them).
            src_cols = set(source.columns)
            inserted_rows = (
                observed.filter(F.col(ROUTE_COL) == "success")
                .drop(ROUTE_COL)
                .select(
                    *[
                        F.col(f.name)
                        if f.name in src_cols
                        else F.lit(None).cast(f.dataType).alias(f.name)
                        for f in base.fields
                    ],
                    *extra_fields,
                )
            )
            evolved, rewrite = self._evolve(man, inserted_rows)
            if rewrite:  # existing rows join the inserts in one segment
                buckets = [int(b) for b in man["buckets"]]
                full = self._read_dirs(man, self._dirs(man))
                inserted_rows = self._conform(full, evolved).unionByName(
                    self._conform(inserted_rows, evolved)
                )
            seg, present = self._write_segment(
                inserted_rows.withColumn(BUCKET_COL, self._bucket_of())
            )
            m = MergeMetrics(updated=0, **counts())
            return _Change(
                result=m,
                n_rows=m.inserted,
                fields={"schema": evolved.json()},
                seg=seg,
                present=present,
                touched=buckets,
                append=not rewrite,
            )

        return self._commit(
            "put-if-absent", stage, send=True, txn=txn, ingest=True
        ) or MergeMetrics(updated=0, unmodified=0, inserted=0)

    def delete(self, matches: DataFrame) -> int:
        """Delta-style DELETE: remove every table row that
        matches a row of `matches` on ALL of matches' columns (any
        subset of the table's columns — pass just (doc_id) to drop a
        document's whole key family). Rewrites only the buckets that
        actually contain matches, publishes one new manifest version
        (op='delete'), and returns the number of rows removed —
        0 leaves the table untouched at the same version.

        The anchor-store lifecycle primitive: incremental substring
        dedup appends anchors forever; deleting the anchors of docs a
        later hard-dedup pass dropped keeps the store O(kept tokens),
        not O(ingested tokens). Like merge(), the lock covers the
        match-finding read, and `matches` must be DETERMINISTIC (it is
        evaluated twice: bucket census + rewrite) and must NOT be
        derived from an un-checkpointed read of THIS store (the
        rewrite would race its own input — localCheckpoint first, as
        incremental_substring_dedup does for appends)."""
        self._reject_reserved(matches, "delete")

        def stage(fs, Path, man):
            fields = self._schema(man).fieldNames()
            unknown = [c for c in matches.columns if c not in fields]
            if unknown:
                raise ValueError(
                    f"store {self.path}: delete matches on {unknown} — "
                    f"not columns of the table ({fields})"
                )
            m = matches.dropDuplicates(matches.columns)
            # NULL-keyed match rows would match NOTHING under the
            # equi semi/anti joins below — a silent partial delete.
            # Mirror the loud unknown-column check instead: callers
            # who mean "delete rows where k IS NULL" don't have that
            # semantics here and should filter first.
            null_pred = None
            for c in m.columns:
                p = F.col(c).isNull()
                null_pred = p if null_pred is None else (null_pred | p)
            full = self._read_dirs(man, self._dirs(man)).withColumn(
                BUCKET_COL, self._bucket_of()
            )
            # ONE census job answers both questions, so the NULL guard
            # costs no job of its own: which buckets hold matches + how
            # many rows go, UNIONED with the NULL-row count under the
            # impossible bucket id -1 (_bucket_of is a pmod, never
            # negative). Driver result stays bounded by n_buckets + 1.
            census_leg = (
                full.join(m, matches.columns, "left_semi")
                .groupBy(BUCKET_COL)
                .agg(F.count(F.lit(1)).alias("n"))
                .select(F.col(BUCKET_COL).cast("long").alias("_b"), "n")
            )
            null_leg = (
                m.where(null_pred)
                .groupBy(F.lit(-1).cast("long").alias("_b"))
                .agg(F.count(F.lit(1)).alias("n"))
            )
            rows = census_leg.unionByName(null_leg).collect()
            if any(r["_b"] == -1 for r in rows):
                raise ValueError(
                    f"store {self.path}: delete matches contain NULLs "
                    f"in a match column ({m.columns}); NULL never "
                    "equi-joins, so those rows would silently delete "
                    "nothing — drop or filter them explicitly"
                )
            census = {int(r["_b"]): int(r["n"]) for r in rows}
            if not census:
                return None
            touched = sorted(census)
            # rewrite reads ONLY the touched buckets' dirs (the census
            # already told us which) — a bucket-column filter over the
            # full scan cannot file-prune, since _bucket is recomputed
            # per row, not stored
            keep = (
                self._read_dirs(man, self._dirs(man, touched))
                .withColumn(BUCKET_COL, self._bucket_of())
                .join(m, matches.columns, "left_anti")
            )
            seg, present = self._write_segment(keep)
            n_deleted = sum(census.values())
            return _Change(
                result=n_deleted,
                n_rows=n_deleted,
                seg=seg,
                present=present,
                touched=touched,
            )

        return self._commit("delete", stage, send=True) or 0

    def _bucket_file_counts(self, fs, Path, man: dict) -> dict[int, int]:
        """bucket id -> parquet part-file count for a manifest —
        driver-side metadata only (directory listings of the
        manifest's dirs; never opens a data file). Shared by the
        compact_if trigger probe and compact()'s fragmentation scan."""
        counts: dict[int, int] = {}
        for b_str, dirs in man["buckets"].items():
            n = 0
            for d in dirs:
                for entry in fs.listStatus(Path(f"{self.path}/{d}")):
                    if entry.getPath().getName().endswith(".parquet"):
                        n += 1
            counts[int(b_str)] = n
        return counts

    def _max_bucket_files(self) -> int:
        """Largest per-bucket parquet part-file count in the LATEST
        manifest — the fragmentation signal compact_if triggers on.
        Lock-free."""
        fs, Path = self._fs()
        man = self._require_manifest(fs, Path)
        return max(self._bucket_file_counts(fs, Path, man).values(), default=0)

    def compact_if(self, max_files: int = 4) -> int:
        """Auto-compaction policy (the Delta auto-OPTIMIZE analog):
        no-op unless some bucket has grown past `max_files` part-files,
        then compact exactly the buckets over the bound. The check is
        LOCK-FREE (manifest listing only), so calling this after every
        merge in a tight ingest loop costs metadata, not lock churn —
        the lock is taken only on the rare iteration that actually
        compacts. Bounds read amplification: a reader of any bucket
        opens at most ~max_files files between compactions. Returns
        rewritten-bucket count (0 = under the bound, nothing done)."""
        if max_files < 1:
            raise ValueError(f"compact_if: max_files must be >= 1, got {max_files}")
        if self._max_bucket_files() <= max_files:
            return 0
        return self.compact(min_files=max_files + 1)

    def compact(self, min_files: int = 2) -> int:
        """Rewrite buckets fragmented by put_if_absent appends into one
        file each (the Delta OPTIMIZE analog). Only buckets with ≥
        min_files part-files are touched — compaction work scales with
        fragmentation, not table size. Returns rewritten-bucket count.
        Readers racing a compact keep their manifest's files (retained
        for lock_stale_sec after being superseded)."""

        def stage(fs, Path, man):
            frag = [
                b
                for b, n in self._bucket_file_counts(fs, Path, man).items()
                if n >= min_files
            ]
            if not frag:
                return None
            # _bucket is not stored in the files; recompute it from the
            # keys — same deterministic hash, same assignment.
            seg, present = self._write_segment(
                self._read_dirs(man, self._dirs(man, frag)).withColumn(
                    BUCKET_COL, self._bucket_of()
                )
            )
            return _Change(result=len(frag), seg=seg, present=present, touched=frag)

        return self._commit("compact", stage) or 0
