"""Transaction-logged parquet tables: minimal ACID semantics (atomic
commits, snapshot-isolated reads, time travel, optimistic concurrency,
additive schema evolution, compaction, vacuum) over plain parquet files —
the capability wave staged by VERDICT r6 #6.

Design follows the published Delta Lake architecture (Armbrust et al.,
"Delta Lake: High-Performance ACID Table Storage over Cloud Object
Stores", VLDB 2020): the table IS its ordered commit log; data files are
immutable and write-once; a commit is the ATOMIC creation of the next
log entry; readers reconstruct a snapshot by folding the log and never
list the data directory.  Everything here is the Spark-first re-expression
— plain ``spark.read.parquet`` on the snapshot's file list, so predicate
pushdown / column pruning / partition-size coalescing all still apply.

100 TB posture:
- The LOG is the listing.  Readers fold a few KB of JSON instead of
  LIST-ing an object-store prefix (the dominant metadata cost at scale);
  a snapshot read plans from explicit file paths.
- Commits are O(1): stage data files under uuid names (never reused, so
  a failed writer leaves only unreferenced garbage), then publish via an
  atomic create-if-absent of ``_txn/<version>.json``.  POSIX ``O_EXCL``
  here; on an object store the equivalent is a conditional PUT.
- Optimistic concurrency: two writers racing for version N — exactly one
  wins the atomic create; the loser re-reads the log, re-validates, and
  retries at N+1.  Append-vs-append never conflicts (file sets are
  disjoint); overwrite conflicts are surfaced to the caller.
- Snapshot isolation for free: a reader's file list is fixed at fold
  time; late commits cannot tear its scan because data files are
  immutable and vacuum honors a retention floor.
- Additive schema evolution: each commit records its schema; reads
  reconcile via ``unionByName(allowMissingColumns=True)`` so old files
  surface NULL for later-added columns — no rewrite of history.

Reference parity note: the reference project's incremental/snapshot
materializations (dbt semantics) live in core/dag.py; this module is the
engine-side storage layer a warehouse would provide underneath them.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import col as F_col
from pyspark.sql.functions import percentile_approx as F_percentile_approx

from ..localrel import values_relation

_LOG_DIR = "_txn"
_VERSION_DIGITS = 10


class TxnConflict(Exception):
    """A concurrent commit invalidated this writer's assumptions and the
    operation is not automatically retryable (overwrite racing overwrite)."""


class ConstraintViolation(Exception):
    """A write's rows violate a table CHECK constraint — the commit was
    never published (staging fails before the log entry is created)."""


@dataclass(frozen=True)
class Snapshot:
    """An immutable view of the table at one committed version.
    ``file_schemas`` carries each live file's COMMIT-TIME schema (files
    are immutable, so the schema that wrote a file is the schema that
    reads it) — snapshot reads therefore need zero parquet-footer
    round-trips at plan time.  ``file_dvs`` carries each live file's
    DELETION-VECTOR sidecars (merge-on-read deletes; empty tuple = none):
    a read of that file anti-joins the recorded (file, pos) tombstones."""

    version: int
    files: tuple[str, ...]
    file_schemas: tuple[str, ...]  # schema_json aligned with ``files``
    file_stats: tuple[dict, ...]  # per-file {col: [min, max]} aligned too
    schema_json: str
    committed_at_ms: int
    file_dvs: tuple[tuple[str, ...], ...] = ()  # dv rels aligned with files
    constraints: tuple[tuple[str, str], ...] = ()  # (name, CHECK expr) sorted
    bloom_spec: tuple[tuple[str, int, int], ...] = ()  # (col, m_bits, k) sorted
    dropped: tuple[str, ...] = ()  # DROPped column names still physically present
    root: str = ""  # the table root this snapshot folded from (sidecar base)
    generated: tuple[tuple[str, str], ...] = ()  # (col, generation expr) sorted
    ndv_spec: tuple[tuple[str, int], ...] = ()  # (col, k sketch size) sorted
    partition_cols: tuple[str, ...] = ()  # creation-time PARTITIONED BY, ordered
    renames: tuple[tuple[str, str], ...] = ()  # (physical, logical) ORDERED chain
    # (col, start, step, next, order-by tuple) — GENERATED ALWAYS AS IDENTITY
    identity_spec: tuple = ()
    cluster_by: tuple[str, ...] = ()  # declared clustering keys, ordered
    quantile_cols: tuple[str, ...] = ()  # per-file quantile-histogram columns


def _log_dir(root: str) -> str:
    return os.path.join(root, _LOG_DIR)


def _entry_path(root: str, version: int) -> str:
    return os.path.join(_log_dir(root), f"{version:0{_VERSION_DIGITS}d}.json")


def _list_versions(root: str) -> list[int]:
    d = _log_dir(root)
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        if f.endswith(".json") and len(f) == _VERSION_DIGITS + 5:
            try:
                out.append(int(f[:-5]))
            except ValueError:
                continue
    return sorted(out)


# Reader feature protocol (Delta's protocol-action idea, feature-set
# form): a commit whose CORRECT interpretation needs a capability beyond
# plain add/remove folding stamps it in the entry's ``require`` list, and
# every reader validates the stamp before trusting the entry — a future
# feature degrades to a LOUD error instead of silently wrong rows (e.g. a
# reader that ignored deletion-vector actions would resurrect deleted
# data).  Advisory metadata (stats, blooms, byte sizes) is deliberately
# unstamped: ignoring it costs performance, never correctness.
_SUPPORTED_FEATURES = frozenset({"deletion_vectors"})


def _check_features(required, what: str) -> None:
    unknown = set(required or []) - _SUPPORTED_FEATURES
    if unknown:
        raise RuntimeError(
            f"{what} requires reader features {sorted(unknown)} that this "
            f"implementation does not support (supported: "
            f"{sorted(_SUPPORTED_FEATURES)}); upgrade before reading this table"
        )


def _read_entry(root: str, version: int) -> dict:
    with open(_entry_path(root, version)) as fh:
        e = json.load(fh)
    _check_features(e.get("require"), f"commit {version} of {root}")
    return e


_CHECKPOINT_EVERY = 16


def _ckpt_path(root: str, version: int) -> str:
    return os.path.join(_log_dir(root), f"checkpoint-{version:0{_VERSION_DIGITS}d}.json")


def _latest_checkpoint(root: str, max_version: int) -> dict | None:
    """The newest log checkpoint at or below ``max_version`` (Delta's
    ``_last_checkpoint`` idea): folding starts from the checkpointed live
    set instead of replaying the whole log, so snapshot construction stays
    O(_CHECKPOINT_EVERY) however long the table's history grows."""
    d = _log_dir(root)
    if not os.path.isdir(d):
        return None
    best = -1
    for f in os.listdir(d):
        if f.startswith("checkpoint-") and f.endswith(".json"):
            try:
                v = int(f[len("checkpoint-"):-5])
            except ValueError:
                continue
            if v <= max_version and v > best:
                best = v
    if best < 0:
        return None
    with open(_ckpt_path(root, best)) as fh:
        ckpt = json.load(fh)
    _check_features(ckpt.get("require"), f"checkpoint {best} of {root}")
    return ckpt


def _maybe_checkpoint(root: str, version: int) -> None:
    """Write a log checkpoint every ``_CHECKPOINT_EVERY`` commits.
    Atomic tmp+replace, best-effort and derivable — a crash here loses
    nothing (the next writer re-derives it), so no create-if-absent race
    dance is needed."""
    if version <= 0 or version % _CHECKPOINT_EVERY != 0:
        return
    versions = [v for v in _list_versions(root) if v <= version]
    snap = _fold(root, versions)
    # cumulative streaming batch ids fold into the checkpoint too, so the
    # exactly-once sink's replay check stays O(_CHECKPOINT_EVERY) instead
    # of rescanning an unbounded log every micro-batch
    prior = _latest_checkpoint(root, version - 1)
    ids = set(prior.get("batch_ids", [])) if prior else set()
    # application-transaction watermarks fold forward the same way as
    # batch ids: the idempotence check stays O(_CHECKPOINT_EVERY)
    prior_app = dict(prior.get("app_txns", {})) if prior else {}
    start = prior["version"] + 1 if prior else 0
    for v in versions:
        if v < start:
            continue
        e = _read_entry(root, v)
        if "batch_id" in e:
            ids.add(e["batch_id"])
        if "app_txn" in e:
            app, ver = e["app_txn"]
            prior_app[app] = max(int(ver), int(prior_app.get(app, ver)))
    ckpt = {
        "version": version,
        "live": [
            [os.path.relpath(p, root), s, st, list(dvs)]
            for p, s, st, dvs in zip(
                snap.files, snap.file_schemas, snap.file_stats, snap.file_dvs
            )
        ],
        "schema": snap.schema_json,
        "ts_ms": snap.committed_at_ms,
        "batch_ids": sorted(ids),
        "app_txns": prior_app,
        "constraints": dict(snap.constraints),
        "bloom": {c: [m, k] for c, m, k in snap.bloom_spec},
        "dropped": list(snap.dropped),
        "generated": dict(snap.generated),
        "ndv": {c: k for c, k in snap.ndv_spec},
        "partition": list(snap.partition_cols),
        "renames": [list(r) for r in snap.renames],
        "identity": {
            c: [st, sp, nx, list(ob)]
            for c, st, sp, nx, ob in snap.identity_spec
        },
        "cluster": list(snap.cluster_by),
        "quantile": list(snap.quantile_cols),
    }
    if any(snap.file_dvs):  # fast-path readers need DV support too
        ckpt["require"] = ["deletion_vectors"]
    tmp = _ckpt_path(root, version) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(ckpt, fh)
    os.replace(tmp, _ckpt_path(root, version))


def _fold(root: str, versions: list[int]) -> Snapshot:
    """Fold commit entries into the live file set.  ``remove`` actions
    drop files from the set (overwrite/compact); ``add`` actions extend
    it; ``dv`` actions attach a deletion-vector sidecar to the live files
    it applies to (tombstones die with their file).  The latest commit's
    schema is the snapshot schema."""
    live: dict[str, tuple[str, dict, tuple[str, ...]]] = {}
    schema_json = ""
    ts = 0
    start = 0
    constraints: dict[str, str] = {}
    bloom: dict[str, list] = {}
    dropped: list[str] = []
    generated: dict[str, str] = {}
    ndv: dict[str, int] = {}
    partition: list[str] = []
    renames: list[list[str]] = []
    identity: dict = {}
    cluster: list[str] = []
    quantile: list[str] = []
    ckpt = _latest_checkpoint(root, versions[-1]) if versions else None
    if ckpt is not None:
        live = {
            r[0]: (r[1], r[2], tuple(r[3]) if len(r) > 3 else ())
            for r in ckpt["live"]
        }
        schema_json = ckpt["schema"]
        ts = ckpt["ts_ms"]
        start = ckpt["version"] + 1
        constraints = dict(ckpt.get("constraints", {}))
        bloom = dict(ckpt.get("bloom", {}))
        dropped = list(ckpt.get("dropped", []))
        generated = dict(ckpt.get("generated", {}))
        ndv = dict(ckpt.get("ndv", {}))
        partition = list(ckpt.get("partition", []))
        renames = [list(r) for r in ckpt.get("renames", [])]
        identity = dict(ckpt.get("identity", {}))
        cluster = list(ckpt.get("cluster", []))
        quantile = list(ckpt.get("quantile", []))
    for v in versions:
        if v < start:
            continue
        e = _read_entry(root, v)
        for a in e["actions"]:
            if "add" in a:
                # an add normally inherits its commit's schema; RESTORE
                # re-adds files from heterogeneous-schema history and
                # carries each file's original schema on the action
                live[a["add"]] = (a.get("schema", e["schema"]), a.get("stats", {}), ())
            elif "remove" in a:
                live.pop(a["remove"], None)
            elif "dv" in a:
                for f in a["applies"]:
                    if f in live:
                        s, st, dvs = live[f]
                        live[f] = (s, st, dvs + (a["dv"],))
        schema_json = e["schema"]
        ts = e["ts_ms"]
        if "constraints" in e:  # constraint-changing commits carry the map
            constraints = dict(e["constraints"])
        if "bloom" in e:  # bloom-spec-changing commits carry the map
            bloom = dict(e["bloom"])
        if "dropped" in e:  # drop/purge commits carry the full list
            dropped = list(e["dropped"])
        if "generated" in e:  # generated-column-changing commits carry the map
            generated = dict(e["generated"])
        if "ndv" in e:  # ndv-sketch-spec-changing commits carry the map
            ndv = dict(e["ndv"])
        if "partition" in e:  # set once, at creation (or clone creation)
            partition = list(e["partition"])
        if "renames" in e:  # rename commits carry the full ordered chain
            renames = [list(r) for r in e["renames"]]
        if "identity" in e:  # identity writes carry the updated watermark map
            identity = dict(e["identity"])
        if "cluster" in e:  # clustering-key declarations carry the list
            cluster = list(e["cluster"])
        if "quantile" in e:  # quantile-histogram declarations carry the list
            quantile = list(e["quantile"])
    return Snapshot(
        version=versions[-1] if versions else -1,
        files=tuple(os.path.join(root, f) for f in live),
        file_schemas=tuple(s for s, _, _ in live.values()),
        file_stats=tuple(st for _, st, _ in live.values()),
        schema_json=schema_json,
        committed_at_ms=ts,
        file_dvs=tuple(dvs for _, _, dvs in live.values()),
        constraints=tuple(sorted(constraints.items())),
        bloom_spec=tuple(sorted((c, int(v[0]), int(v[1])) for c, v in bloom.items())),
        dropped=tuple(sorted(dropped)),
        root=root,
        generated=tuple(sorted(generated.items())),
        ndv_spec=tuple(sorted((c, int(k)) for c, k in ndv.items())),
        partition_cols=tuple(partition),
        renames=tuple((a, b) for a, b in renames),
        identity_spec=tuple(
            sorted(
                (c, int(v[0]), int(v[1]), int(v[2]), tuple(v[3]))
                for c, v in identity.items()
            )
        ),
        cluster_by=tuple(cluster),
        quantile_cols=tuple(sorted(quantile)),
    )


def snapshot(root: str, version: int | None = None, as_of_ms: int | None = None) -> Snapshot:
    """The table state at ``version``, at the last commit with
    ``ts_ms <= as_of_ms``, or at the latest commit (both None).  Raises
    FileNotFoundError for an empty/nonexistent table and ValueError for a
    version/timestamp before the first commit."""
    versions = _list_versions(root)
    if not versions:
        raise FileNotFoundError(f"no transaction log under {root}")
    if version is not None:
        if version not in versions:
            raise ValueError(f"version {version} not in log (have {versions[0]}..{versions[-1]})")
        versions = [v for v in versions if v <= version]
    elif as_of_ms is not None:
        # Resolve the timestamp to the LAST version whose ts_ms is at or
        # before it, then fold the CONTIGUOUS prefix up to that version —
        # timestamp travel is thereby equivalent to version travel.  The
        # naive "keep every version with ts_ms <= as_of_ms" reconstructs a
        # state that never existed when wall clocks regress between commits
        # (a skipped middle version's effects vanish from the fold), and the
        # checkpoint fast-path could reintroduce them inconsistently.
        last = None
        for v in versions:
            if _read_entry(root, v)["ts_ms"] <= as_of_ms:
                last = v
        if last is None:
            raise ValueError(f"no commit at or before ts {as_of_ms}")
        versions = [v for v in versions if v <= last]
    return _fold(root, versions)


def _file_may_match(stats: dict, prune: dict) -> bool:
    """Conservative data-skipping: a file is skippable ONLY when its
    recorded [min, max] for a pruned column provably excludes the
    requested [lo, hi] interval.  Missing stats (no footer min/max, a
    column added after the file was written — its values are all NULL and
    an interval predicate is never NULL-true) keep the file unless the
    column is absent from the file's stats because of the latter."""
    for col, bound in prune.items():
        if len(bound) == 1:  # nullness mark from `col IS [NOT] NULL`
            nc = (stats.get("__nulls") or {}).get(col)
            if nc is None:
                continue  # no recorded null counts: keep
            n_null, n_rows = nc
            if bound[0] == "__isnull" and n_null == 0 and n_rows > 0:
                return False  # zero NULLs: IS NULL provably empty here
            if bound[0] == "__notnull" and n_null == n_rows and n_rows > 0:
                return False  # all NULLs: IS NOT NULL provably empty
            continue
        lo, hi = bound
        if col not in stats:
            continue  # unknown range: cannot prove exclusion, keep
        mn, mx = stats[col]
        try:
            if hi is not None:
                # _PrefixHi: the bound zero-extends under SQL's cast, so a
                # prefix-equal (longer) stat string could be temporally
                # EQUAL — only a strictly-greater prefix proves exclusion
                mn_c = (
                    mn[: len(hi)]
                    if isinstance(hi, _PrefixHi) and isinstance(mn, str)
                    else mn
                )
                if mn_c > hi:
                    return False
            if lo is not None and mx < lo:
                return False
        except TypeError:
            # caller's bound type is incomparable with the recorded stat
            # (str vs numeric): exclusion unprovable, keep the file
            continue
    return True


class _DateLit(str):
    """String bound derived from a SQL ``DATE'...'`` literal, marked so
    ``_keep_files`` can type-check it against the snapshot schema before
    it prunes anything.  The bare 10-char ISO form compares correctly
    against a DATE column's stringified footer stats, but a TIMESTAMP
    column's stats stringify as ``'YYYY-MM-DD HH:MM:SS'`` — which compares
    GREATER than the bare date, so an unmarked upper bound would prune a
    file whose matching rows sit exactly at midnight of the bound date
    (``ts <= DATE'2024-01-02'`` with file min ``2024-01-02 00:00:00``).
    Marked bounds therefore apply ONLY to date-typed columns; on any other
    type the conjunct contributes nothing, the sound pre-rewrite behavior
    (ADVICE r12 high)."""

    __slots__ = ()


class _PrefixHi(str):
    """Upper bound that must PREFIX-compare against longer stat strings.
    A str bound on a TIMESTAMP column zero-extends when SQL casts it
    ('2024-01-02' compares as midnight), but the file's stringified stat
    '2024-01-02 00:00:00' compares GREATER than the bare bound, so the
    plain comparison would prune a file whose matching rows sit exactly
    at the zero-extension.  Exclusion therefore requires
    ``min[:len(hi)] > hi``: a prefix-equal stat could be temporally equal
    (matches ``<=``), only a strictly-greater prefix proves exclusion."""

    __slots__ = ()


def _typed_bounds(snap: "Snapshot", bounds: dict) -> dict:
    """Type-check string bounds against the snapshot schema before any
    file is pruned with them (ADVICE r12 high):

    - ``_DateLit`` bounds (from ``DATE'...'`` literals) apply exactly on
      DATE columns, prefix-compare (upper bound) on TIMESTAMP columns,
      and are DROPPED on every other type — a string column compares
      under cast-to-date semantics (leading whitespace trims, alternate
      formats parse) that raw string order does not model, so the
      conjunct contributes nothing there, the sound pre-rewrite behavior.
    - plain str upper bounds on TIMESTAMP columns become ``_PrefixHi``:
      SQL zero-extends the literal when casting ('2024-01-02' means
      midnight), so the plain comparison against the file's longer
      stringified stat would prune the midnight row's file.  Lower
      bounds stay plain: ``max < lo`` with a timestamp-string max
      already implies every row is strictly before the zero-extension.
    """
    marked = any(
        len(b) == 2
        and any(isinstance(v, str) for v in b if v is not None)
        for b in bounds.values()
    )
    if not marked:
        return bounds
    from pyspark.sql.types import DateType, StructType, TimestampType

    try:
        from pyspark.sql.types import TimestampNTZType

        ts_types = (TimestampType, TimestampNTZType)
    except ImportError:  # pragma: no cover - older pyspark
        ts_types = (TimestampType,)
    schema = StructType.fromJson(json.loads(snap.schema_json))
    dtypes = {f.name: f.dataType for f in schema.fields}
    out: dict = {}
    for c, b in bounds.items():
        if len(b) != 2:
            out[c] = b
            continue
        lo, hi = b
        dt = dtypes.get(c)
        has_date_lit = isinstance(lo, _DateLit) or isinstance(hi, _DateLit)
        if has_date_lit and not isinstance(dt, (DateType, *ts_types)):
            continue  # cast semantics unmodeled: contribute nothing
        if isinstance(dt, ts_types) and isinstance(hi, str):
            hi = _PrefixHi(hi)
        out[c] = (lo, hi)
    return out


_CMP_RE = None  # compiled lazily in _prune_from_predicate


def _prune_from_predicate(predicate: str) -> dict:
    """CONSERVATIVELY derive data-skipping intervals ``{col: (lo, hi)}``
    from a SQL boolean expression — the automatic form of ``read_txn``'s
    manual ``prune`` dict, so a caller's WHERE clause prunes files with
    no extra API.

    Soundness rules (pruning must never drop a file that could match):
    only a TOP-LEVEL CONJUNCTION is considered, and any OR / NOT /
    parenthesis / IN / function call disables pruning entirely (their
    interaction with conjuncts can widen the row set).  Within the
    conjunction, only ``col <op> literal`` / ``literal <op> col`` /
    ``col BETWEEN a AND b`` with numeric or single-quoted string literals
    contribute bounds, plus ``col IS [NOT] NULL`` nullness marks (matched
    against the log's per-column null counts — see ``_file_may_match``);
    every unrecognized conjunct (functions, ``!=``, …) simply contributes
    nothing — a subset of conjuncts is still a sound prune.  Strict
    ``<`` / ``>`` are widened to ``<=`` / ``>=`` bounds (file-level
    min/max cannot express open intervals more tightly — still sound,
    marginally less pruning).

    Every quoted string literal is MASKED to an opaque placeholder before
    any structural regex runs and restored only when a literal is parsed:
    SQL keywords or patterns INSIDE a string (``note = 'status IS NULL'``,
    ``tag = 'a AND b'``) are therefore inert text, never structure.
    Without the mask the IS NULL pre-pass rewrote inside the quotes and
    derived an unsound bound on the wrong column (ADVICE r9 high).

    Returns ``{col: (lo, hi)}`` plus optional nullness entries
    ``{col: ("__notnull",)} / {col: ("__isnull",)}`` under the reserved
    ``(..., )`` 1-tuple shape."""
    import re

    s = predicate.strip()
    # Mask '...' spans FIRST so no later pattern can match inside them.
    # SQL's '' escape tokenizes as two adjacent literals -> two
    # placeholders with nothing between; the conjunct regexes then simply
    # fail to match that conjunct, which contributes nothing (sound).
    strings: list[str] = []

    def _mask(m):
        strings.append(m.group(0)[1:-1])
        return f"\x00{len(strings) - 1}\x00"

    s = re.sub(r"'[^']*'", _mask, s)
    if "'" in s:
        return {}  # unterminated string literal: malformed, derive nothing
    # IS [NOT] NULL conjuncts are extracted next: the generic \bNOT\b
    # guard below would otherwise disable pruning for the whole predicate
    # (a real loss — `key = 5 AND x IS NOT NULL` is a common shape)
    nullness: dict[str, tuple] = {}
    ident0 = r"([A-Za-z_][A-Za-z0-9_]*)"

    def _take_null(m):
        col, neg = m.group(1), m.group(2)
        nullness[col] = ("__notnull",) if neg else ("__isnull",)
        return " 1=1 "  # neutral conjunct placeholder

    s = re.sub(
        ident0 + r"\s+IS\s+(NOT\s+)?NULL", _take_null, s, flags=re.IGNORECASE
    )
    # DATE '...' literals contribute their ISO string as the bound: a
    # DATE column's footer stats and partition-value stats stringify in
    # ISO form, which orders exactly like the dates themselves, so
    # `d >= DATE'2024-01-02'` prunes as the plain string comparison.
    # The literal is MARKED (_DateLit) so _keep_files applies it only to
    # date-typed columns — against a TIMESTAMP column's longer
    # 'YYYY-MM-DD HH:MM:SS' stat strings the bare-date comparison is
    # unsound (ADVICE r12 high).  (TIMESTAMP literals are deliberately not
    # rewritten: their footer string form is engine-formatted and not
    # reliably comparable.)
    date_idx: set[int] = set()

    def _unwrap_date(m):
        date_idx.add(int(m.group(1)[1:-1]))
        return m.group(1)

    s = re.sub(r"\bDATE\s*(\x00\d+\x00)", _unwrap_date, s, flags=re.IGNORECASE)
    if re.search(r"[()]|\bOR\b|\bNOT\b|\bIN\b|\bCASE\b", s, re.IGNORECASE):
        return {}
    lit = r"(\x00\d+\x00|-?\d+(?:\.\d+)?)"
    ident = r"([A-Za-z_][A-Za-z0-9_]*)"

    def parse_lit(t: str):
        if t.startswith("\x00"):
            i = int(t[1:-1])
            return _DateLit(strings[i]) if i in date_idx else strings[i]
        return float(t) if "." in t else int(t)

    out: dict[str, list] = {}

    def narrow(col: str, lo=None, hi=None):
        cur = out.setdefault(col, [None, None])
        if lo is not None and (cur[0] is None or lo > cur[0]):
            cur[0] = lo
        if hi is not None and (cur[1] is None or hi < cur[1]):
            cur[1] = hi

    # pre-pass: BETWEEN carries its own AND, so rewrite it into two
    # comparisons BEFORE the conjunction split
    s = re.sub(
        ident + r"\s+BETWEEN\s+" + lit + r"\s+AND\s+" + lit,
        r"\1 >= \2 AND \1 <= \3",
        s,
        flags=re.IGNORECASE,
    )
    for conj in re.split(r"\bAND\b", s, flags=re.IGNORECASE):
        conj = conj.strip()
        m = re.fullmatch(ident + r"\s*(>=|<=|=|==|>|<)\s*" + lit, conj)
        if m:
            col, op, l = m.group(1), m.group(2), parse_lit(m.group(3))
            if op in (">=", ">"):
                narrow(col, lo=l)
            elif op in ("<=", "<"):
                narrow(col, hi=l)
            else:
                narrow(col, lo=l, hi=l)
            continue
        m = re.fullmatch(lit + r"\s*(>=|<=|=|==|>|<)\s*" + ident, conj)
        if m:
            l, op, col = parse_lit(m.group(1)), m.group(2), m.group(3)
            if op in (">=", ">"):
                narrow(col, hi=l)  # lit >= col  ==>  col <= lit
            elif op in ("<=", "<"):
                narrow(col, lo=l)
            else:
                narrow(col, lo=l, hi=l)
    res = {c: (lo, hi) for c, (lo, hi) in out.items() if lo is not None or hi is not None}
    for c, mark in nullness.items():
        # a range bound on the same column subsumes IS NOT NULL; IS NULL
        # with a range is contradictory — keep the range (conservative)
        if c not in res:
            res[c] = mark
    return res


def read_txn(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    as_of_ms: int | None = None,
    prune: dict | None = None,
    where: str | None = None,
) -> DataFrame:
    """Snapshot read: plan from the log's explicit file list (never a
    directory listing).  Files group by their COMMIT-TIME schema (recorded
    in the log — zero footer reads at plan time), each group scans with an
    explicit schema, and groups reconcile via
    ``unionByName(allowMissingColumns=True)``: old files yield NULL for
    later-added columns, with no rewrite of history and no risk of one
    inferred schema silently dropping another group's column.

    ``prune`` is optional data-skipping: ``{col: (lo, hi)}`` intervals
    (either bound None for open) drop files whose log-recorded footer
    min/max provably cannot match — the scan then never opens them.
    Pruning is a FILE-set optimization, not a row filter: callers still
    apply their own ``.filter`` for row-level semantics (same contract as
    partition pruning).

    ``where`` is the AUTOMATIC form: one SQL boolean expression that is
    BOTH applied as a row filter AND conservatively compiled into prune
    intervals (see ``_prune_from_predicate``) — the usual warehouse
    experience where a WHERE clause skips files with no extra API."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    snap = snapshot(root, version=version, as_of_ms=as_of_ms)
    want = StructType.fromJson(json.loads(snap.schema_json))
    bounds = dict(prune or {})
    if where is not None:
        for c, iv in _prune_from_predicate(where).items():
            if c not in bounds:  # explicit prune wins on conflict
                bounds[c] = iv
    keep = _keep_files(spark, snap, bounds)
    out = _scan_files(spark, keep, want, root=root, renames=snap.renames)
    if where is not None:
        out = out.filter(F.expr(where))
    return out


def _scan_files(
    spark: SparkSession,
    files_with_schemas,
    want,
    root: str | None = None,
    keep_pos: bool = False,
    renames=(),
) -> DataFrame:
    """Scan an explicit (path, commit-time-schema-json[, dv-rels]) file
    list, grouped by schema, reconciled via
    ``unionByName(allowMissingColumns=True)`` and aligned to the ``want``
    schema (columns no live file carries surface as typed NULL; canonical
    column order).  Shared by full snapshot reads and the MERGE path's
    touched-files-only rewrite.

    Files carrying DELETION VECTORS (merge-on-read deletes) are read with
    their parquet position metadata and anti-joined against the recorded
    (file, pos) tombstones — a BROADCAST anti-join, since DV sidecars are
    small by contract (heavy delete ratios should compact, which
    materializes the tombstones away).  ``keep_pos=True`` appends
    ``__file``/``__pos`` columns (post-DV positions) for callers that
    derive NEW tombstones."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    if not files_with_schemas:
        df = spark.createDataFrame([], want)
        if keep_pos:
            df = df.withColumn("__file", F.lit(None).cast("string")).withColumn(
                "__pos", F.lit(None).cast("bigint")
            )
        return df
    groups: dict[str, tuple[list, set, dict]] = {}
    for item in files_with_schemas:
        path, sj = item[0], item[1]
        dvs = tuple(item[2]) if len(item) > 2 else ()
        pv = item[3] if len(item) > 3 else None
        g = groups.setdefault(sj, ([], set(), {}))
        g[0].append(path)
        g[1].update(dvs)
        if pv:
            g[2][os.path.basename(path)] = pv
    # COALESCE schema generations (VERDICT r8 #2, low): a long-lived table
    # accrues one commit-time schema per additive evolution; one scan group
    # per generation builds an O(generations) left-deep union plan.  Spark's
    # parquet reader fills columns ABSENT from a file with NULL when given
    # an explicit schema — exactly additive-evolution read semantics — so
    # generations whose shared field TYPES agree merge into ONE scan group
    # under their reconciled schema (field union, nullability OR'd,
    # one-sided fields nullable).  The plan is then O(distinct
    # type-conflicting generations): one group in the common case.  Type
    # mismatches (heterogeneous RESTORE history) keep separate groups.
    # ({name: field}, paths, dvs, {basename: pv})
    buckets: list[tuple[dict, list, set, dict]] = []
    for sj, (paths, dvs, pvs) in groups.items():
        fields = {
            f["name"]: f for f in json.loads(sj)["fields"]
        }
        # a RENAMED table keeps one scan group per schema generation:
        # pre-rename generations carry the PHYSICAL name, post-rename ones
        # the logical, and merging them would blend a physical source
        # column into a bucket that already has its logical target —
        # the per-bucket rename guard would then skip, silently NULLing
        # the old generation's values.  Compaction re-unifies generations.
        for bfields, bpaths, bdvs, bpvs in ([] if renames else buckets):
            if any(
                n in bfields and bfields[n]["type"] != f["type"]
                for n, f in fields.items()
            ):
                continue
            for n, f in fields.items():
                if n not in bfields:
                    bfields[n] = {**f, "nullable": True}
                elif f.get("nullable") and not bfields[n].get("nullable"):
                    bfields[n] = {**bfields[n], "nullable": True}
            # a field the incoming generation lacks must be nullable too
            for n in list(bfields):
                if n not in fields and not bfields[n].get("nullable"):
                    bfields[n] = {**bfields[n], "nullable": True}
            bpaths.extend(paths)
            bdvs.update(dvs)
            bpvs.update(pvs)
            break
        else:
            buckets.append((dict(fields), list(paths), set(dvs), dict(pvs)))
    df = None
    for bfields, paths, dvs, pvs in buckets:
        # PARTITION columns live in metadata, not in the data bytes: read
        # the physical fields only, then reattach the values per file via
        # ONE broadcast (basename -> partition tuple) metadata join — the
        # scan stays a single node however many partitions it spans, and
        # the map is file-count-sized, never data-sized.
        pv_cols = sorted({c for pv in pvs.values() for c in pv})
        schema = StructType.fromJson(
            {
                "type": "struct",
                "fields": [f for n, f in bfields.items() if n not in pv_cols],
            }
        )
        part = spark.read.schema(schema).parquet(*paths)
        # apply the table's ORDERED rename chain (physical -> logical):
        # a file written before a rename carries the physical name; one
        # written after already has the logical name (guarded no-op).
        # Chained and swapped renames resolve by order.
        for _phys, _logical in renames:
            if _phys in part.columns and _logical not in part.columns:
                part = part.withColumnRenamed(_phys, _logical)
        if dvs or keep_pos or pv_cols:
            part = part.select(
                "*",
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ).alias("__file"),
                F.col("_metadata.row_index").alias("__pos"),
            )
        if dvs:
            assert root is not None
            dv_df = spark.read.parquet(
                *[os.path.join(root, d) for d in sorted(dvs)]
            )
            part = part.join(
                F.broadcast(dv_df),
                (F.col("__file") == dv_df["file"]) & (F.col("__pos") == dv_df["pos"]),
                "left_anti",
            )
        if pv_cols:
            pv_type = {
                c: bfields[c]["type"] for c in pv_cols if c in bfields
            }
            rows = [
                tuple([b] + [pv.get(c) for c in pv_cols])
                for b, pv in sorted(pvs.items())
            ]
            pv_df = values_relation(
                spark,
                rows,
                ", ".join(
                    ["__pvfile string"]
                    + [f"__pv_{c} string" for c in pv_cols]
                ),
            ).select(
                "__pvfile",
                *[
                    F.col(f"__pv_{c}").cast(pv_type.get(c, "string")).alias(c)
                    for c in pv_cols
                ],
            )
            part = part.join(
                F.broadcast(pv_df),
                F.col("__file") == pv_df["__pvfile"],
                "left",
            ).drop("__pvfile")
        if (dvs or pv_cols) and not keep_pos:
            part = part.drop("__file", "__pos")
        df = part if df is None else df.unionByName(part, allowMissingColumns=True)
    for f in want.fields:
        if f.name not in df.columns:
            df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
    cols = [f.name for f in want.fields]
    if keep_pos:
        cols += ["__file", "__pos"]
    return df.select(*cols)


def _file_stats(path: str) -> dict:
    """Per-file min/max for JSON-representable primitive columns, read
    from the parquet FOOTER the writer just produced (no data pass).
    These ride the ``add`` action so snapshot reads can data-skip files
    whose range cannot match a predicate — the Delta/Iceberg data-skipping
    design, where the log carries the statistics an object-store scan
    cannot afford to re-derive."""
    import pyarrow.parquet as pq

    return _stats_from_metadata(pq.ParquetFile(path).metadata)


def _stats_from_metadata(md) -> dict:
    """Fold row-group footer statistics into per-file [min, max], keeping a
    column ONLY when EVERY row group contributes trustworthy min/max for it.
    A partially-covered column (some row group has no stats) would
    otherwise record an UNDERSTATED range, and ``_file_may_match`` would
    prune a file whose stats-less row group holds matching rows — silently
    wrong results.  Dropping the column is always safe: no stats, no skip.

    Floating-point columns are dropped UNCONDITIONALLY: writers either
    wrote NaN into the bounds (the parquet-mr hazard) or excluded NaN from
    them (modern Arrow) — and under Spark's ordering NaN is GREATER than
    every value, so a NaN row matches ``v >= lo`` for any lo while the
    NaN-excluding footer max says the file can't.  Either way the range
    cannot prove exclusion."""
    mins: dict = {}
    maxs: dict = {}
    bad: set[str] = set()
    covered: dict[str, int] = {}
    nulls: dict[str, int] = {}
    nulls_cov: dict[str, int] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested: skip
                continue
            st = col.statistics
            # null counts are independent of min/max trustworthiness
            # (NaN never poisons them) — same EVERY-row-group coverage
            # rule, though: a partially-covered count would understate.
            # getattr: absent on older pyarrow statistics objects (and on
            # the coverage test's fakes) — treated as not recorded
            nc = getattr(st, "null_count", None) if st is not None else None
            if nc is not None:
                nulls[name] = nulls.get(name, 0) + int(nc)
                nulls_cov[name] = nulls_cov.get(name, 0) + 1
            if st is None or not st.has_min_max:
                bad.add(name)
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, bytes) or isinstance(mx, bytes):
                bad.add(name)
                continue
            if isinstance(mn, float) or isinstance(mx, float):  # NaN hazard
                bad.add(name)
                continue
            if not isinstance(mn, (int, float, str, bool)):
                mn, mx = str(mn), str(mx)
            mins[name] = mn if name not in mins else min(mins[name], mn)
            maxs[name] = mx if name not in maxs else max(maxs[name], mx)
            covered[name] = covered.get(name, 0) + 1
    out = {
        c: [mins[c], maxs[c]]
        for c in mins
        if c not in bad and covered[c] == md.num_row_groups
    }
    nd = {
        c: [nulls[c], md.num_rows]
        for c in nulls
        if nulls_cov[c] == md.num_row_groups
    }
    if nd:
        out["__nulls"] = nd  # reserved key, threads like __bloom/__bytes
    return out


# Reserved key inside a file's stats dict holding its Bloom filters.
# Current form is SIDECAR: {"sidecar": rel, "cols": {col: [m, k]}} — the
# bitsets live in a tiny immutable JSON file next to the data (the DV
# sidecar pattern) and only the reference + per-column (m, k) ride the
# log.  Bitsets INLINE in the log (the legacy form, {col: {"m", "k",
# "b64"}}) made the log data-sized at scale: ~32 KiB of base64 PER FILE
# folded driver-side on every snapshot read — at a 100 TB table (~100k
# files) that is gigabytes inside every checkpoint (VERDICT r8 #2).
# Readers accept both forms; stats-riding means the references still
# thread through fold / checkpoints / RESTORE with zero extra plumbing.
# (A real data column literally named "__bloom" is therefore not
# stats-indexable — documented reservation.)
_BLOOM_KEY = "__bloom"
_BLOOM_SIDECAR_PREFIX = "bloom-"


def _bloom_write_sidecar(root: str, bl: dict) -> dict | None:
    """Publish one file's bloom bitsets ``{col: {"m","k","b64"}}`` as an
    immutable uuid-named sidecar under ``root``; returns the stats entry
    referencing it.  The sidecar is fully written (and fsynced) BEFORE
    the commit that references it — unreferenced on crash, garbage for
    vacuum, never torn."""
    if not bl:
        return None
    rel = f"{_BLOOM_SIDECAR_PREFIX}{uuid.uuid4().hex}.json"
    with open(os.path.join(root, rel), "w") as fh:
        json.dump({c: b["b64"] for c, b in bl.items()}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    return {"sidecar": rel, "cols": {c: [b["m"], b["k"]] for c, b in bl.items()}}


def _bloom_sidecar_ref(stats: dict) -> str | None:
    """The bloom sidecar rel-path a file's stats reference, if any."""
    bl = stats.get(_BLOOM_KEY) or {}
    ref = bl.get("sidecar")
    return ref if isinstance(ref, str) else None


def _bloom_load_sidecar(path: str) -> dict | None:
    """Parsed sidecar content ``{col: b64}`` with a small immutable-file
    cache; None when unreadable (vacuumed past a RESTORE target, partial
    copy) — callers then keep the file, which is always sound."""
    cached = _BLOOM_SIDECAR_CACHE.get(path)
    if cached is not None:
        return cached
    try:
        with open(path) as fh:
            data = json.load(fh)
    except (OSError, ValueError):
        return None
    if len(_BLOOM_SIDECAR_CACHE) >= 4096:
        _BLOOM_SIDECAR_CACHE.clear()
    _BLOOM_SIDECAR_CACHE[path] = data
    return data


_BLOOM_SIDECAR_CACHE: dict[str, dict] = {}


def _bloom_cols(root: str, stats: dict) -> dict:
    """A file's blooms resolved to the uniform ``{col: {"m","k","b64"}}``
    shape, whichever stats form (inline legacy / sidecar) recorded them.
    Unresolvable sidecars yield {} — no filter, no skip."""
    bl = stats.get(_BLOOM_KEY) or {}
    if not bl:
        return {}
    if "sidecar" not in bl:
        return bl  # legacy inline form
    data = _bloom_load_sidecar(os.path.join(root, bl["sidecar"]))
    if data is None:
        return {}
    out = {}
    for c, mk in (bl.get("cols") or {}).items():
        if c in data:
            out[c] = {"m": int(mk[0]), "k": int(mk[1]), "b64": data[c]}
    return out


def _bloom_pack(bits, m: int) -> str:
    import base64

    buf = bytearray((m + 7) // 8)
    for b in bits:
        buf[b >> 3] |= 1 << (b & 7)
    return base64.b64encode(bytes(buf)).decode("ascii")


def _chain_names(field_names, renames):
    """A file-schema field-name list remapped through the table's ordered
    rename chain — the LOGICAL names its columns answer to now."""
    cur = list(field_names)
    for phys, logical in renames or ():
        if phys in cur and logical not in cur:
            cur[cur.index(phys)] = logical
    return cur


def _compute_blooms(
    spark: SparkSession, root: str, items, spec, renames=()
) -> dict[str, dict]:
    """Per-file Bloom filters for the spec'd columns over an explicit
    (rel_path, schema_json) file list — ONE column-pruned Spark job (the
    same extra-pass cost Delta's Bloom index build pays at write time).

    The hash family is JVM-side ``xxhash64(col, lit(seed))`` for seeds
    0..k-1, reduced ``pmod m`` — probe values hash through the identical
    expression (``_bloom_probe_bits``), so build and probe can never
    drift.  NULLs set no bits (equality with NULL is never true), and a
    file whose values are ALL NULL for a column — including pre-evolution
    files that predate the column — records an EMPTY bitset, which
    correctly excludes the file for every probe.  Map-side partial
    aggregation bounds the shuffle at ≤ m bit positions per (file, col):
    metadata-sized, never data-sized."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    out: dict[str, dict] = {}
    by_schema: dict[str, list[str]] = {}
    for rel, sj in items:
        by_schema.setdefault(sj, []).append(rel)
    for sj, rels in by_schema.items():
        schema = StructType.fromJson(json.loads(sj))
        # pre-rename files carry PHYSICAL names: spec columns are LOGICAL,
        # so membership and the scan both go through the rename chain —
        # before this, a backfill on a renamed column recorded exclude-all
        # bitsets for every old file (silent wrong pruning).
        names = set(_chain_names([f.name for f in schema.fields], renames))
        use = [(c, m, k) for c, m, k in spec if c in names]
        # columns absent from this schema generation: all-NULL by
        # evolution semantics -> exclude-all empty bitset, no scan needed
        empties = {
            c: {"m": m, "k": k, "b64": _bloom_pack((), m)}
            for c, m, k in spec
            if c not in names
        }
        for rel in rels:
            out[rel] = dict(empties)
            out[rel].update(
                {c: {"m": m, "k": k, "b64": _bloom_pack((), m)} for c, m, k in use}
            )
        if not use:
            continue
        df = spark.read.schema(schema).parquet(
            *[os.path.join(root, r) for r in rels]
        )
        for _phys, _logical in renames or ():
            if _phys in df.columns and _logical not in df.columns:
                df = df.withColumnRenamed(_phys, _logical)
        entries = []
        for c, m, k in use:
            for s in range(k):
                entries.append(
                    F.when(
                        F.col(c).isNotNull(),
                        F.struct(
                            F.lit(c).alias("c"),
                            F.pmod(
                                F.xxhash64(F.col(c), F.lit(s)), F.lit(m)
                            ).alias("bit"),
                        ),
                    )
                )
        rows = (
            df.select(
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ).alias("__f"),
                F.explode(F.array(*entries)).alias("e"),
            )
            .where(F.col("e").isNotNull())
            .groupBy("__f", F.col("e.c").alias("c"))
            .agg(F.collect_set(F.col("e.bit")).alias("bits"))
            .collect()
        )
        mk = {c: (m, k) for c, m, k in use}
        # the scan's __f is a BASENAME while `out` is keyed by the item
        # rel path — on a SHALLOW CLONE the rel is a traversal path
        # ('../src/part-x.parquet'), so keying by basename directly would
        # miss (the same coordinate mismatch _applies_rels fixes for DV
        # attachment; ADVICE r10 medium).  uuid-named staging makes
        # basenames unique; assert rather than silently overwrite.
        rel_of = _basename_rel_map(rels)
        for r in rows:
            m, k = mk[r["c"]]
            out[rel_of[r["__f"]]][r["c"]] = {
                "m": m, "k": k, "b64": _bloom_pack(r["bits"], m)
            }
    return out


def _basename_rel_map(rels) -> dict[str, str]:
    """basename -> rel-path map for a live-set file list; LOUD on a
    basename collision (impossible for uuid-staged files, but a silent
    overwrite here would attach one file's statistics to another)."""
    rel_of: dict[str, str] = {}
    for rel in rels:
        b = os.path.basename(rel)
        if b in rel_of and rel_of[b] != rel:
            raise ValueError(
                f"basename collision in live set: {rel_of[b]!r} vs {rel!r}"
            )
        rel_of[b] = rel
    return rel_of


def _bloom_probe_bits(spark: SparkSession, schema, probes) -> dict:
    """Hash each probe value through the SAME JVM expression the build
    used; returns ``{(col, m, k): [bit, ...]}``.  One 1-row job for all
    probes together.  A value that cannot cast to the column's type (or
    any evaluation error under ANSI) contributes nothing — pruning then
    simply keeps the files, which is always sound."""
    from pyspark.sql import functions as F

    exprs, keys = [], []
    fields = {f.name: f.dataType for f in schema.fields}
    for i, (c, v, m, k) in enumerate(sorted(probes, key=str)):
        dt = fields.get(c)
        if dt is None or v is None:
            continue
        lit = F.lit(v).cast(dt)
        exprs.append(F.isnull(lit).alias(f"n_{i}"))
        for s in range(k):
            exprs.append(
                F.pmod(F.xxhash64(lit, F.lit(s)), F.lit(m)).alias(f"b_{i}_{s}")
            )
        keys.append((i, c, m, k))
    if not exprs:
        return {}
    try:
        row = spark.range(1).select(*exprs).collect()[0]
    except Exception:  # noqa: BLE001 - ANSI cast error: skip bloom pruning
        return {}
    out = {}
    for i, c, m, k in keys:
        if row[f"n_{i}"]:  # cast returned NULL: value unrepresentable
            continue
        out[(c, m, k)] = [row[f"b_{i}_{s}"] for s in range(k)]
    return out


def _bloom_may_match(root: str, stats: dict, probe_bits: dict) -> bool:
    """False only when some probed column's recorded Bloom filter PROVES
    the value absent (a required bit is unset).  Files without a bloom
    for the column — or whose sidecar is unreadable — are kept: no
    filter, no skip."""
    import base64

    blooms = _bloom_cols(root, stats)
    for (c, m, k), bits in probe_bits.items():
        b = blooms.get(c)
        if not b or b.get("m") != m or b.get("k") != k:
            continue
        data = base64.b64decode(b["b64"])
        if not all(data[i >> 3] & (1 << (i & 7)) for i in bits):
            return False
    return True


def _pv_may_match(pv, bounds: dict) -> bool:
    """Exact partition pruning for the cases interval stats cannot see:

    - INTERVAL bound (len-2): the NULL partition can match no comparison
      (SQL three-valued logic), so it prunes; non-null partition values
      prune via their [v, v] stats entry in _file_may_match.
    - NULLNESS mark (len-1, from ``col IS [NOT] NULL``): a partition
      value is constant per file, so nullness is decided EXACTLY —
      ``IS NULL`` prunes every non-NULL partition and keeps the NULL one
      (the partition column is not in the data bytes, so the generic
      __nulls-stats path never fires for it), and ``IS NOT NULL`` prunes
      exactly the NULL partition."""
    if not pv:
        return True
    for c, bound in bounds.items():
        if c not in pv:
            continue
        if len(bound) == 1:
            if bound[0] == "__isnull" and pv[c] is not None:
                return False
            if bound[0] == "__notnull" and pv[c] is None:
                return False
        elif pv[c] is None:
            return False
    return True


def _snap_item(snap: Snapshot, i: int):
    """One snapshot file as a _scan_files item: (path, commit-time schema,
    dv sidecars, partition values) — the 4th element reattaches partition
    columns (metadata-resident on partitioned tables) at scan time."""
    return (
        snap.files[i], snap.file_schemas[i], snap.file_dvs[i],
        snap.file_stats[i].get(_PV_KEY),
    )


def _keep_files(spark: SparkSession, snap: Snapshot, bounds: dict):
    """The snapshot's (path, schema, dvs) file list after data skipping:
    interval min/max pruning plus Bloom-filter pruning for point-equality
    bounds (lo == hi).  Intervals answer range predicates on CLUSTERED
    columns; Blooms answer equality on HIGH-CARDINALITY, unclustered
    columns where every file's [min, max] spans the whole domain and
    interval pruning is useless — together they cover the two lookup
    shapes a 100 TB scan actually meets.

    Bounds pass through ``_typed_bounds`` first: DATE-literal and
    timestamp-string bounds are type-checked against the snapshot schema
    so no stringified-stat comparison can prune a file whose rows match
    under SQL's cast semantics (ADVICE r12 high)."""
    if bounds:
        bounds = _typed_bounds(snap, bounds)
    keep = [
        (path, sj, dvs, st.get(_PV_KEY))
        for path, sj, st, dvs in zip(
            snap.files, snap.file_schemas, snap.file_stats, snap.file_dvs
        )
        if not bounds
        or (
            _pv_may_match(st.get(_PV_KEY), bounds)
            and _file_may_match(st, bounds)
        )
    ]
    if snap.bloom_spec and bounds:
        from pyspark.sql.types import (
            ByteType, IntegerType, LongType, ShortType, StringType, StructType,
        )

        schema = StructType.fromJson(json.loads(snap.schema_json))
        dtypes = {f.name: f.dataType for f in schema.fields}

        def _probe_type_safe(c, v) -> bool:
            # The probe hashes the literal CAST TO the column type, but the
            # caller's row filter may coerce the COLUMN toward the literal
            # instead (`scol = 5` on a string column compares as doubles,
            # so row '5.0' matches while the probe hashed '5') — an unsound
            # skip.  Bloom-probe only when the two coercions provably agree:
            # a string literal on a string column, or an int literal on an
            # integral column.  Everything else keeps the files (ADVICE r9).
            dt = dtypes.get(c)
            if isinstance(v, str):
                return isinstance(dt, StringType)
            if isinstance(v, int) and not isinstance(v, bool):
                return isinstance(dt, (ByteType, ShortType, IntegerType, LongType))
            return False

        mk = {c: (m, k) for c, m, k in snap.bloom_spec}
        probes = {
            (c, iv[0], *mk[c])
            for c, iv in bounds.items()
            if c in mk
            and len(iv) == 2
            and iv[0] is not None
            and iv[0] == iv[1]
            and _probe_type_safe(c, iv[0])
        }
        if probes:
            probe_bits = _bloom_probe_bits(spark, schema, probes)
            if probe_bits:
                stats_of = {p: st for p, st in zip(snap.files, snap.file_stats)}
                keep = [
                    item
                    for item in keep
                    if _bloom_may_match(snap.root, stats_of[item[0]], probe_bits)
                ]
    return keep


def _compute_ndv_sketches(
    spark: SparkSession, root: str, items, spec, renames=()
) -> dict[str, dict]:
    """Per-file KMV (bottom-k minimum values) NDV sketches for the spec'd
    columns over an explicit (rel_path, schema_json) file list — ONE
    column-pruned Spark job, same write-time cost class as the Bloom
    build.  The sketch is the file's ``k`` SMALLEST DISTINCT 32-bit
    hashes of the column (md5 hex prefix of the value's string form — the
    same cross-engine hash discipline as the registered KMV estimator in
    operators/analytics.py), so table-level NDV merges as pure log
    arithmetic: the union of per-file bottom-k sets contains the global
    bottom-k (any of the k globally-smallest hashes is among its own
    file's k smallest), and the estimate needs ZERO data I/O — the
    statistics a query planner's join ordering wants at 100 TB without
    re-scanning anything.  NULLs contribute nothing; a file where the
    column is absent (pre-evolution) or all-NULL records an empty list."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    out: dict[str, dict] = {rel: {c: [] for c, _ in spec} for rel, _ in items}
    by_schema: dict[str, list[str]] = {}
    for rel, sj in items:
        by_schema.setdefault(sj, []).append(rel)
    for sj, rels in by_schema.items():
        schema = StructType.fromJson(json.loads(sj))
        # logical-name membership + post-read remap, same rename-chain
        # discipline as _compute_blooms (old files carry physical names)
        names = set(_chain_names([f.name for f in schema.fields], renames))
        use = [(c, k) for c, k in spec if c in names]
        if not use:
            continue
        df = spark.read.schema(schema).parquet(
            *[os.path.join(root, r) for r in rels]
        )
        for _phys, _logical in renames or ():
            if _phys in df.columns and _logical not in df.columns:
                df = df.withColumnRenamed(_phys, _logical)
        fcol = F.element_at(
            F.split(F.col("_metadata.file_path"), "/"), -1
        ).alias("__f")
        entries = [
            F.when(
                F.col(c).isNotNull(),
                F.struct(
                    F.lit(c).alias("c"),
                    F.conv(
                        F.substring(F.md5(F.col(c).cast("string")), 1, 8),
                        16, 10,
                    ).cast("bigint").alias("h"),
                ),
            )
            for c, _ in use
        ]
        kmax = {c: k for c, k in use}
        w = W.partitionBy("__f", "c").orderBy("h")
        rows = (
            df.select(fcol, F.explode(F.array(*entries)).alias("e"))
            .where(F.col("e").isNotNull())
            .select("__f", F.col("e.c").alias("c"), F.col("e.h").alias("h"))
            .distinct()
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= F.lit(max(kmax.values())))
            .groupBy("__f", "c")
            .agg(F.sort_array(F.collect_list("h")).alias("hs"))
            .collect()
        )
        # basename -> rel remap: on a shallow clone the items carry
        # traversal rel paths while __f is the basename (same coordinate
        # fix as _compute_blooms / _applies_rels; ADVICE r10 medium —
        # set_ndv_txn(backfill=True) on a clone raised KeyError here).
        rel_of = _basename_rel_map(rels)
        for r in rows:
            out[rel_of[r["__f"]]][r["c"]] = [
                int(h) for h in r["hs"][: kmax[r["c"]]]
            ]
    return out


_NDV_KEY = "__ndv"
_QH_KEY = "__qh"


def _qh_bucket_sql(col: str) -> str:
    """The deterministic integer bucket id of a NON-NEGATIVE integer
    value (DDSketch-style relative-accuracy buckets — Masson et al.,
    VLDB 2019 — with the float log replaced by EXACT integer arithmetic
    so Spark and DuckDB can never disagree at a boundary): values 0-15
    get exact singleton buckets; past that, a bucket is (number of bits,
    top 4 bits) — 8 sub-buckets per octave, so bucket width / lower
    bound <= 1/8 (~12.5% relative value resolution; rank resolution is
    exact at bucket granularity).  The same expression runs verbatim in
    Spark SQL and DuckDB (LENGTH(bin(v)) is the msb count in both)."""
    return (
        f"CASE WHEN {col} <= 15 THEN {col} "
        f"ELSE 8 * LENGTH(bin({col})) "
        f"+ SHIFTRIGHT({col}, CAST(LENGTH(bin({col})) AS INT) - 4) - 32 END"
    )


def _qh_lower(b: int) -> int:
    """Lower bound of quantile-histogram bucket ``b`` (inverse of
    :func:`_qh_bucket_sql`) — the deterministic representative value a
    quantile estimate reports."""
    if b <= 15:
        return b
    ln = (b + 32) // 8 - 1
    top4 = 8 + (b + 32) % 8
    return top4 << (ln - 4)


def _compute_quantile_hists(
    spark: SparkSession, root: str, items, cols, renames=()
) -> dict[str, dict]:
    """Per-file QUANTILE HISTOGRAMS {bucket_id: count} for the spec'd
    columns over an explicit (rel_path, schema_json) file list — ONE
    column-pruned Spark job, the same write-time cost class as the
    Bloom/NDV builds.  Buckets are the exact-integer DDSketch-style ids
    of :func:`_qh_bucket_sql`, so the table-level histogram merges as
    pure per-bucket count SUMMATION — partition-layout-invariant by
    construction, which is both what makes log-only quantile estimates
    sound under compaction/appends AND what makes them cross-engine
    oracle-checkable (DuckDB computes the identical histogram from the
    source rows with no knowledge of file boundaries).  NULLs contribute
    nothing; a file where the column is absent records an empty map;
    NEGATIVE values raise (the bucket algebra is defined on
    non-negative integers — widen by offsetting at the caller)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    out: dict[str, dict] = {rel: {c: {} for c in cols} for rel, _ in items}
    by_schema: dict[str, list[str]] = {}
    for rel, sj in items:
        by_schema.setdefault(sj, []).append(rel)
    for sj, rels in by_schema.items():
        schema = StructType.fromJson(json.loads(sj))
        names = set(_chain_names([f.name for f in schema.fields], renames))
        use = [c for c in cols if c in names]
        if not use:
            continue
        df = spark.read.schema(schema).parquet(
            *[os.path.join(root, r) for r in rels]
        )
        for _phys, _logical in renames or ():
            if _phys in df.columns and _logical not in df.columns:
                df = df.withColumnRenamed(_phys, _logical)
        fcol = F.element_at(
            F.split(F.col("_metadata.file_path"), "/"), -1
        ).alias("__f")
        entries = [
            F.when(
                F.col(c).isNotNull(),
                F.struct(
                    F.lit(c).alias("c"),
                    F.expr(_qh_bucket_sql(c)).cast("bigint").alias("b"),
                ),
            )
            for c in use
        ]
        rows = (
            df.select(fcol, F.explode(F.array(*entries)).alias("e"))
            .where(F.col("e").isNotNull())
            .select("__f", F.col("e.c").alias("c"), F.col("e.b").alias("b"))
            .groupBy("__f", "c", "b")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        rel_of = _basename_rel_map(rels)
        for r in rows:
            if r["b"] < 0:
                raise ValueError(
                    f"quantile histogram on {r['c']!r} met a negative "
                    "value; the bucket algebra is defined on non-negative "
                    "integers (offset the column or store magnitudes)"
                )
            out[rel_of[r["__f"]]][r["c"]][str(int(r["b"]))] = int(r["n"])
    return out


def set_quantile_txn(
    spark: SparkSession, root: str, cols, backfill: bool = True
) -> int:
    """Declare per-file QUANTILE HISTOGRAMS for the given columns — the
    mergeable quantile statistics a planner / data-quality monitor wants
    at 100 TB without scanning anything (the NDV/Bloom pattern applied
    to quantiles; DDSketch-style buckets with exact integer boundaries).
    Every subsequent write / MERGE / compaction computes its new files'
    histograms in-pass (one column-pruned pass, bounded at ~500 buckets
    per file per column), and :func:`quantile_estimate_txn` merges them
    into table-level quantile estimates with ZERO data I/O — per-bucket
    count summation, sound under any file layout.

    Columns must be non-negative integer-typed (the exact-integer bucket
    algebra is what makes estimates bit-identical across engines); a
    later write carrying a negative value fails its staging pass loudly
    — the same contract class as a CHECK constraint, and the backfill
    raises the same way if EXISTING rows violate it.
    ``backfill=True`` sketches the CURRENT live files (one column-pruned
    scan) and republishes their stats as a metadata-only commit, DV
    chains re-applied — same shape as the Bloom/NDV backfills.  Known
    staleness, shared with every log-stats design: DV-tombstoned rows
    still count until a rewrite materializes them away."""
    from pyspark.sql.types import StructType

    snap = snapshot(root)
    fields = {
        f.name: f.dataType.typeName()
        for f in StructType.fromJson(json.loads(snap.schema_json)).fields
    }
    ok_types = {"byte", "short", "integer", "long"}
    cols = [cols] if isinstance(cols, str) else list(cols)
    for c in cols:
        if c not in fields:
            raise ValueError(
                f"quantile column {c!r} not in table schema (have {sorted(fields)})"
            )
        if c in snap.partition_cols:
            raise ValueError(
                f"quantile histogram on partition column {c!r} is "
                "pointless: its per-partition values are metadata-resident"
            )
        if fields[c] not in ok_types:
            raise ValueError(
                f"quantile column {c!r} has type {fields[c]!r}; only "
                "integer columns bucket cross-engine-deterministically"
            )
    merged = sorted(set(snap.quantile_cols) | set(cols))
    actions: list[dict] = []
    if backfill and snap.files:
        items = [
            (os.path.relpath(p, root), sj)
            for p, sj in zip(snap.files, snap.file_schemas)
        ]
        hists = _compute_quantile_hists(
            spark, root, items, sorted(set(cols)), snap.renames
        )
        dv_applies: dict[str, list[str]] = {}
        for (rel, sj), st, dvs in zip(items, snap.file_stats, snap.file_dvs):
            new_st = dict(st)
            qh = dict(new_st.get(_QH_KEY) or {})
            qh.update(hists.get(rel, {}))
            new_st[_QH_KEY] = qh
            actions.append({"add": rel, "stats": new_st, "schema": sj})
            for d in dvs:
                dv_applies.setdefault(d, []).append(rel)
        actions += [
            {"dv": d, "applies": sorted(rels)}
            for d, rels in sorted(dv_applies.items())
        ]
    return _commit_pinned(
        root, snap.version, "set_quantile", actions, snap.schema_json,
        "set quantile", extra={"quantile": merged},
    )


def quantile_commit_hists(
    root: str, col: str
) -> list[tuple[int, str, dict[int, int]]]:
    """Per-COMMIT bucket histograms of the files each log entry ADDED,
    for a quantile-sketched column — the ingestion-batch view of the
    table's distribution, from the log alone (zero data I/O).  Returns
    ``(version, mode, {bucket: count})`` for every entry whose add
    actions carry histograms; entries that re-add existing files
    (backfills, compactions, RESTOREs) appear under their own mode so a
    caller monitoring INGESTION drift can filter to ``append`` /
    ``overwrite`` commits and treat maintenance modes as it sees fit.
    This is the per-batch data-quality feed a 100 TB pipeline wants:
    each producer commit's distribution is already summarized in its
    add-action stats, so drift detection is per-bucket integer
    arithmetic over ~500-entry maps, never a scan."""
    out: list[tuple[int, str, dict[int, int]]] = []
    for v in _list_versions(root):
        e = _read_entry(root, v)
        h: dict[int, int] = {}
        for a in e["actions"]:
            if "add" not in a:
                continue
            for b, n in ((a.get("stats", {}).get(_QH_KEY) or {}).get(col) or {}).items():
                h[int(b)] = h.get(int(b), 0) + int(n)
        if h:
            out.append((v, e.get("mode", ""), h))
    return out


def quantile_partition_profile(
    root: str, col: str, qs, version: int | None = None
) -> list[tuple[dict, int, dict]]:
    """PER-PARTITION distribution profile for a quantile-sketched column
    of a PARTITIONED table, from the log alone: per-file histograms
    group by their metadata-resident partition tuple (``__pv``) and
    merge by per-bucket summation, then each partition answers the same
    deterministic quantile walk as :func:`quantile_estimate_txn`.
    Returns ``[(partition_values, n_rows, {q: estimate}), ...]`` sorted
    by partition tuple — the partition-skew / imbalance report a 100 TB
    maintenance planner wants (which partitions are heavy, where the
    distribution shifted) at O(files × buckets) integers, zero scans."""
    import math
    from fractions import Fraction

    snap = snapshot(root, version=version)
    if col not in snap.quantile_cols:
        raise ValueError(
            f"column {col!r} carries no quantile histogram "
            f"(declared: {list(snap.quantile_cols)})"
        )
    if not snap.partition_cols:
        raise ValueError("partition profile requires a PARTITIONED table")
    per: dict[tuple, dict[int, int]] = {}
    for st in snap.file_stats:
        pv = st.get(_PV_KEY) or {}
        key = tuple((c, pv.get(c)) for c in snap.partition_cols)
        hist = per.setdefault(key, {})
        for b, n in ((st.get(_QH_KEY) or {}).get(col) or {}).items():
            hist[int(b)] = hist.get(int(b), 0) + int(n)
    out = []
    for key in sorted(per, key=lambda k: tuple((v is None, v) for _c, v in k)):
        hist = per[key]
        n = sum(hist.values())
        ests: dict[float, int] = {}
        if n:
            buckets = sorted(hist.items())
            for q in qs:
                rank = max(1, min(math.ceil(Fraction(str(q)) * n), n))
                cum = 0
                for b, cnt in buckets:
                    cum += cnt
                    if cum >= rank:
                        ests[q] = _qh_lower(b)
                        break
        out.append((dict(key), n, ests))
    return out


def quantile_estimate_txn(
    root: str, col: str, qs, version: int | None = None
) -> tuple[int, dict[float, int]]:
    """Table-level quantile estimates for a sketched column from the LOG
    ALONE — no data file opens, so the statistics cost is O(files ×
    buckets) integers however big the table is.  Merging is per-bucket
    count summation (layout-invariant); the estimate for quantile ``q``
    is the LOWER BOUND of the first bucket whose cumulative count
    reaches rank ``ceil(q * n)`` — a deterministic convention with
    relative value error bounded by the bucket resolution (~12.5%) and
    exact rank arithmetic.  Returns ``(n, {q: estimate})``; an empty /
    unsketched table returns ``(0, {})``.  Files written BEFORE the
    declaration have no histogram and contribute nothing until a
    backfill or rewrite covers them."""
    snap = snapshot(root, version=version)
    if col not in snap.quantile_cols:
        raise ValueError(
            f"column {col!r} carries no quantile histogram "
            f"(declared: {list(snap.quantile_cols)})"
        )
    total: dict[int, int] = {}
    for st in snap.file_stats:
        for b, n in ((st.get(_QH_KEY) or {}).get(col) or {}).items():
            total[int(b)] = total.get(int(b), 0) + int(n)
    n = sum(total.values())
    if n == 0:
        return 0, {}
    out: dict[float, int] = {}
    buckets = sorted(total.items())
    import math
    from fractions import Fraction

    for q in qs:
        # exact decimal reading of q (str round-trips the literal), so
        # ceil(q*n) can never be off by one from float representation
        rank = math.ceil(Fraction(str(q)) * n)
        rank = max(1, min(rank, n))
        cum = 0
        for b, cnt in buckets:
            cum += cnt
            if cum >= rank:
                out[q] = _qh_lower(b)
                break
    return n, out
_NDV_SPACE = 1 << 32  # md5 8-hex-char prefix hash space

# Per-file PARTITION VALUES (Delta's add.partitionValues / Iceberg's
# partition tuples): a reserved stats key mapping partition column ->
# raw string value (None for the NULL partition).  Riding the stats dict
# means pv survives every existing metadata path — fold, checkpoints,
# RESTORE re-adds, clones, stats backfills — with zero extra plumbing.
_PV_KEY = "__pv"
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

# Types whose partition-directory string form round-trips losslessly AND
# whose log-recorded [v, v] stats compare correctly in the existing
# pruning machinery (ints as ints; string/date lexicographic).
_PARTITIONABLE_TYPES = {"byte", "short", "integer", "long", "string", "date"}


def _parse_pv_dirs(rel_dir: str, pcols: list[str]) -> dict:
    """Parse hive-encoded ``col=value`` path segments (the layout
    ``df.write.partitionBy`` produces in staging) back into the raw
    string partition values, URL-decoded; NULL partitions map to None.
    Loud on layout drift — a mis-parsed segment would mislabel every row
    of the file."""
    from urllib.parse import unquote

    segs = [s for s in rel_dir.split(os.sep) if s]
    if len(segs) != len(pcols):
        raise ValueError(
            f"staging layout drift: expected {pcols} partition dirs, got {segs!r}"
        )
    pv: dict = {}
    for seg, col in zip(segs, pcols):
        name, eq, val = seg.partition("=")
        if not eq or name != col:
            raise ValueError(
                f"staging layout drift: segment {seg!r} does not encode {col!r}"
            )
        pv[col] = None if val == _HIVE_NULL else unquote(val)
    return pv


def _pv_stat_value(raw: str | None, type_name: str):
    """The log-stats form of one partition value: ints as ints (the
    pruning comparators expect them), everything else the raw string
    (date/string bounds are stringified in footer stats already)."""
    if raw is None:
        return None
    if type_name in ("byte", "short", "integer", "long"):
        return int(raw)
    return raw


def _stage_files(
    df: DataFrame, root: str, bloom_spec=(), ndv_spec=(), partition_cols=None
) -> tuple[list[str], str, dict]:
    """Write ``df``'s partitions as immutable uuid-named parquet files
    DIRECTLY under ``root`` (object-store posture: no rename of data
    bytes; names never collide, so a crashed writer leaves only
    unreferenced files for vacuum).  Returns (relative paths, schema,
    per-file footer stats for data skipping).  When the table carries a
    Bloom spec and/or an NDV-sketch spec, each new file's blooms/sketches
    are computed here (one extra column-pruned pass each over the
    just-staged files) and ride its stats.

    PARTITIONED tables (``partition_cols``; None = read the table's
    creation-time spec): the staging write is ``partitionBy`` — each
    staged file holds exactly ONE partition tuple, the partition columns
    are NOT stored in the data bytes (the Delta/Iceberg layout: values
    live in metadata, reads reattach them) — but the published layout
    stays FLAT uuid names; the partition tuple rides the add-action stats
    as ``__pv`` plus exact ``[v, v]`` min/max entries, so every existing
    pruning/DML/maintenance path gets EXACT partition pruning from pure
    log arithmetic with no directory listings.  Scale shape: a query
    touching k of N partitions opens k partitions' files having read only
    the log, and dynamic partition overwrite drops replaced partitions
    metadata-only."""
    if partition_cols is None:
        try:
            partition_cols = snapshot(root).partition_cols
        except FileNotFoundError:
            partition_cols = ()
    pcols = list(partition_cols)
    missing = [c for c in pcols if c not in df.columns]
    if missing:
        raise ValueError(
            f"batch is missing partition column(s) {missing} "
            f"(table is PARTITIONED BY {pcols})"
        )
    staging = os.path.join(root, f"_staging_{uuid.uuid4().hex}")
    if pcols:
        df.write.mode("overwrite").partitionBy(*pcols).parquet(staging)
    else:
        df.write.mode("overwrite").parquet(staging)
    os.makedirs(root, exist_ok=True)
    type_of = {f.name: f.dataType.typeName() for f in df.schema.fields}
    rels = []
    stats: dict[str, dict] = {}
    leaves = []
    for dirpath, _dirs, fnames in sorted(os.walk(staging)):
        for f in sorted(fnames):
            if f.endswith(".parquet"):
                leaves.append((dirpath, f))
    for dirpath, f in leaves:
        rel = f"part-{uuid.uuid4().hex}.parquet"
        os.replace(os.path.join(dirpath, f), os.path.join(root, rel))
        rels.append(rel)
        stats[rel] = _file_stats(os.path.join(root, rel))
        # file size rides the stats (reserved key, like __bloom) so
        # maintenance ops (optimize_txn bin-packing) plan from the log
        # instead of HEAD-ing every object at 100 TB
        stats[rel]["__bytes"] = os.path.getsize(os.path.join(root, rel))
        if pcols:
            pv = _parse_pv_dirs(os.path.relpath(dirpath, staging), pcols)
            stats[rel][_PV_KEY] = pv
            for c, raw in pv.items():
                v = _pv_stat_value(raw, type_of[c])
                if v is not None:  # NULL partition: no bounds, never pruned
                    stats[rel][c] = [v, v]
    import shutil

    shutil.rmtree(staging, ignore_errors=True)
    schema_json = df.schema.json()
    if bloom_spec and rels:
        blooms = _compute_blooms(
            df.sparkSession, root, [(r, schema_json) for r in rels], bloom_spec
        )
        for rel, bl in blooms.items():
            entry = _bloom_write_sidecar(root, bl)
            if entry:
                stats[rel][_BLOOM_KEY] = entry
    if ndv_spec and rels:
        sketches = _compute_ndv_sketches(
            df.sparkSession, root, [(r, schema_json) for r in rels], ndv_spec
        )
        for rel, sk in sketches.items():
            stats[rel][_NDV_KEY] = sk
    # quantile-histogram spec is a table property read from the log (the
    # fold is checkpoint-accelerated); a brand-new table has none yet
    try:
        qcols = snapshot(root).quantile_cols
    except FileNotFoundError:
        qcols = ()
    if qcols and rels:
        hists = _compute_quantile_hists(
            df.sparkSession, root, [(r, schema_json) for r in rels], qcols
        )
        for rel, qh in hists.items():
            stats[rel][_QH_KEY] = qh
    return rels, schema_json, stats


def _try_commit(root: str, version: int, entry: dict) -> bool:
    """Atomic create-if-absent of the version file: exactly one writer
    can win a version (conditional PUT on object stores).

    CONTENT atomicity matters as much as name atomicity: creating the
    entry with O_EXCL and then writing JSON into it would, on a crash
    between the two, leave a TORN entry that poisons every future fold
    of the log.  So the entry is fully written to a private tmp file
    first and published with ``os.link`` — a hard link is atomic,
    fails with FileExistsError if the version was taken (the OCC race),
    and the name either does not exist or holds complete JSON.  (The
    object-store equivalent, a conditional PUT, is content-atomic by
    nature.)"""
    os.makedirs(_log_dir(root), exist_ok=True)
    tmp = _entry_path(root, version) + f".{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as fh:
        json.dump(entry, fh)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, _entry_path(root, version))
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def _build_entry(
    mode: str, version: int, actions: list[dict], schema_json: str,
    extra: dict | None,
) -> dict:
    entry = {
        "version": version,
        "mode": mode,
        "actions": actions,
        "schema": schema_json,
        "ts_ms": int(time.time() * 1000),
    }
    # reader-critical features stamp automatically from the actions so no
    # writer path can forget (see _SUPPORTED_FEATURES)
    if any("dv" in a for a in actions):
        entry["require"] = ["deletion_vectors"]
    if extra:
        clash = set(extra) & set(entry)
        if clash:
            raise ValueError(f"extra keys shadow reserved entry fields: {sorted(clash)}")
        entry.update(extra)
    return entry


def _commit_pinned(
    root: str, base_version: int, mode: str, actions: list[dict],
    schema_json: str, what: str, extra: dict | None = None,
) -> int:
    """Commit exactly at ``base_version + 1`` or raise TxnConflict.  The
    pinned-base protocol is what makes read-modify-write operations
    (MERGE / DELETE / compaction / pinned overwrite) serializable: their
    actions were derived from the snapshot at ``base_version``, so ANY
    commit that beat them to ``base_version + 1`` — including an append
    that landed between their read and their commit — invalidates the
    derivation and must surface to the caller, never be silently folded
    over (the lost-update hazard the OCC guarantee exists to prevent)."""
    entry = _build_entry(mode, base_version + 1, actions, schema_json, extra)
    if not _try_commit(root, base_version + 1, entry):
        raise TxnConflict(
            f"{what} of {root} lost the race for version {base_version + 1}"
        )
    _maybe_checkpoint(root, base_version + 1)
    return base_version + 1


def _table_meta(root: str):
    """(constraints, bloom_spec, dropped, ndv_spec, renames) of the
    current snapshot — one fold; an uncreated table has none."""
    try:
        s = snapshot(root)
        return s.constraints, s.bloom_spec, s.dropped, s.ndv_spec, s.renames
    except FileNotFoundError:
        return (), (), (), (), ()


def _apply_generated(df: DataFrame, root: str) -> DataFrame:
    """Compute the table's GENERATED columns for a batch that omits them
    (the Delta write-path convenience): each missing generated column is
    appended as its expression CAST to the table's declared type.  Batches
    that SUPPLY the column are left alone — the implicit CHECK constraint
    (``set_generated_txn``) validates them in the staging pass.  One
    narrow projection, no shuffle; a fresh table has no declarations."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    try:
        snap = snapshot(root)
    except FileNotFoundError:
        return df
    if not snap.generated:
        return df
    types = {
        f.name: f.dataType
        for f in StructType.fromJson(json.loads(snap.schema_json)).fields
    }
    for col, expr in snap.generated:
        if col not in df.columns:
            df = df.withColumn(col, F.expr(expr).cast(types[col]))
    return df


def _with_constraint_checks(df: DataFrame, constraints) -> DataFrame:
    """Embed CHECK-constraint validation INTO the write's single pass
    (the Delta invariant-check design): the first output column wraps in
    a ``when(violation, raise_error(...))`` chain, so a violating row
    fails the staging job before any log entry exists — no second
    validation scan of the batch, which matters when the batch is large.
    SQL CHECK semantics: NULL passes, only FALSE violates."""
    if not constraints or not df.columns:
        return df
    from pyspark.sql import functions as F

    first = df.columns[0]
    out_col = F.col(first)
    for name, expr in sorted(constraints, reverse=True):
        viol = ~F.coalesce(F.expr(expr), F.lit(True))
        out_col = F.when(
            viol,
            F.raise_error(
                F.concat(
                    F.lit(
                        f"CHECK constraint {name!r} violated ({expr}); row="
                    ),
                    F.to_json(F.struct(*df.columns)),
                )
            ).cast(df.schema[first].dataType),
        ).otherwise(out_col)
    return df.withColumn(first, out_col)


def _stage_checked(
    df: DataFrame, root: str, constraints, bloom_spec=(), ndv_spec=(),
    partition_cols=None,
):
    """Stage with constraint checks embedded; surface a violating row as
    ConstraintViolation instead of a raw executor stack.
    ``partition_cols=None`` reads the table's creation-time spec (the
    default for every rewrite path — MERGE, DV UPDATE, replaceWhere,
    compaction — so rewrites of a partitioned table stay partitioned).

    EMPTY-STRING partition values are rejected IN the staging pass (an
    implicit CHECK, zero extra jobs): the hive directory encoding cannot
    distinguish '' from NULL (`partitionBy` writes both as the default
    partition), so the classic Spark/Hive behavior silently reads ''
    rows back as NULL — loud beats that corruption."""
    if partition_cols is None:
        try:
            partition_cols = snapshot(root).partition_cols
        except FileNotFoundError:
            partition_cols = ()
    checks = list(constraints)
    str_cols = {
        f.name for f in df.schema.fields if f.dataType.typeName() == "string"
    }
    for c in partition_cols:
        if c in str_cols:
            checks.append(
                (
                    f"__pv_nonempty_{c}",
                    f"{c} IS NULL OR {c} <> ''",
                )
            )
    try:
        return _stage_files(
            _with_constraint_checks(df, checks), root, bloom_spec,
            ndv_spec, partition_cols,
        )
    except Exception as ex:  # noqa: BLE001 - re-raise below unless ours
        s = str(ex)
        i = s.find("CHECK constraint")
        if i < 0:
            raise
        raise ConstraintViolation(s[i : i + 500].splitlines()[0]) from None


def add_constraint_txn(
    spark: SparkSession, root: str, name: str, expr: str
) -> int:
    """ALTER TABLE ADD CONSTRAINT (CHECK): validates every EXISTING row
    first (one scan — a constraint that doesn't hold on current data is
    rejected, same as Delta), then publishes a METADATA-ONLY commit
    carrying the updated constraint map; every subsequent write/merge
    validates its rows in-pass.  Pinned OCC."""
    from pyspark.sql import functions as F

    snap = snapshot(root)
    cons = dict(snap.constraints)
    if name in cons:
        raise ValueError(f"constraint {name!r} already exists: {cons[name]}")
    bad = (
        read_txn(spark, root, version=snap.version)
        .filter(~F.coalesce(F.expr(expr), F.lit(True)))
        .limit(1)
        .collect()
    )
    if bad:
        raise ConstraintViolation(
            f"cannot add CHECK constraint {name!r} ({expr}): existing row "
            f"violates it, e.g. {bad[0].asDict()}"
        )
    cons[name] = expr
    return _commit_pinned(
        root, snap.version, "set_constraint", [], snap.schema_json,
        "add constraint", extra={"constraints": cons},
    )


def drop_constraint_txn(root: str, name: str) -> int:
    """ALTER TABLE DROP CONSTRAINT: metadata-only commit removing the
    named CHECK constraint; unknown names are loud."""
    snap = snapshot(root)
    cons = dict(snap.constraints)
    if name not in cons:
        raise ValueError(f"no constraint {name!r} (have {sorted(cons)})")
    del cons[name]
    return _commit_pinned(
        root, snap.version, "set_constraint", [], snap.schema_json,
        "drop constraint", extra={"constraints": cons},
    )


def _gen_constraint(col: str) -> str:
    """Name of the implicit CHECK constraint enforcing a generated
    column's value; riding the ordinary constraints map means EVERY write
    path (append, MERGE, DV UPDATE, replaceWhere) validates supplied
    values in-pass with zero extra plumbing."""
    return f"__gen_{col}"


def set_generated_txn(
    spark: SparkSession, root: str, mapping: dict[str, str]
) -> int:
    """Declare GENERATED COLUMNS (Delta's ``GENERATED ALWAYS AS (expr)``):
    each column in ``mapping`` must equal its SQL expression evaluated
    over the same row.  Writers that OMIT the column get it computed
    in-pass (the convenience); writers that SUPPLY it are validated by an
    implicit CHECK constraint ``col <=> (expr)`` (the correctness) — a
    mismatched value fails the staging pass before any log entry exists,
    on every write path (append/MERGE/DV-UPDATE/replaceWhere) because the
    check rides the ordinary constraints map.

    The 100 TB point is PARTITION-PRUNING SYNERGY: a generated
    ``event_date = CAST(ts AS DATE)`` materializes a low-cardinality
    clustering key whose per-file min/max stats the log already skips on
    — queries filter the generated column directly and never open
    out-of-range files, exactly Delta's generated-partition-column
    design.

    Declaring validates every EXISTING row first (one scan, same as
    ``add_constraint_txn``); the commit is metadata-only.  NULL-safe
    equality (``<=>``) is the match predicate, so expr-NULL rows must
    carry NULL.  Pinned OCC."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    snap = snapshot(root)
    names = {
        f.name for f in StructType.fromJson(json.loads(snap.schema_json)).fields
    }
    cons = dict(snap.constraints)
    gen = dict(snap.generated)
    for col, expr in mapping.items():
        if col not in names:
            raise ValueError(
                f"generated column {col!r} not in table schema "
                f"(have {sorted(names)}); write it once first"
            )
        if col in gen:
            raise ValueError(
                f"column {col!r} is already generated as {gen[col]!r}"
            )
        check = f"{col} <=> ({expr})"
        bad = (
            read_txn(spark, root, version=snap.version)
            .filter(~F.coalesce(F.expr(check), F.lit(True)))
            .limit(1)
            .collect()
        )
        if bad:
            raise ConstraintViolation(
                f"cannot declare {col!r} GENERATED AS ({expr}): existing "
                f"row violates it, e.g. {bad[0].asDict()}"
            )
        gen[col] = expr
        cons[_gen_constraint(col)] = check
    return _commit_pinned(
        root, snap.version, "set_generated", [], snap.schema_json,
        "set generated", extra={"generated": gen, "constraints": cons},
    )


def drop_generated_txn(root: str, col: str) -> int:
    """Remove a column's GENERATED declaration (and its implicit CHECK)
    with one metadata-only commit; the column itself stays, now freely
    writable.  Unknown names are loud."""
    snap = snapshot(root)
    gen = dict(snap.generated)
    if col not in gen:
        raise ValueError(f"column {col!r} is not generated (have {sorted(gen)})")
    del gen[col]
    cons = dict(snap.constraints)
    cons.pop(_gen_constraint(col), None)
    return _commit_pinned(
        root, snap.version, "set_generated", [], snap.schema_json,
        "drop generated", extra={"generated": gen, "constraints": cons},
    )


def drop_column_txn(root: str, col: str) -> int:
    """ALTER TABLE DROP COLUMN as ONE metadata-only commit: the entry's
    schema simply omits the column, and every read aligns file groups to
    the snapshot schema, so the physical data stops surfacing instantly —
    no rewrite of anything at any table size.  The name goes on the
    table's ``dropped`` tombstone list: re-ADDING it is refused until a
    full ``compact_txn`` has purged the physical values (reads map
    columns BY NAME, so a same-named new column would resurrect the old
    files' data — the hazard Delta's column-mapping IDs exist to prevent;
    the tombstone is this design's honest equivalent).  Time travel to
    pre-drop versions still shows the column.  Pinned OCC."""
    snap = snapshot(root)
    fields = json.loads(snap.schema_json)
    names = [f["name"] for f in fields["fields"]]
    import re

    if col not in names:
        raise ValueError(f"no column {col!r} (have {names})")
    if len(names) == 1:
        raise ValueError("cannot drop the table's last column")
    if col in snap.partition_cols:
        raise ValueError(
            f"column {col!r} is a partition column (PARTITIONED BY "
            f"{list(snap.partition_cols)}); the partition spec is immutable"
        )
    bound = {c for c, *_ in snap.identity_spec} | {
        oc for _c, _s, _p, _n, ob in snap.identity_spec for oc in ob
    }
    if col in bound:
        raise ValueError(
            f"column {col!r} is bound by an IDENTITY declaration "
            "(generated column or its order_by key)"
        )
    referenced = [
        n for n, expr in snap.constraints
        if re.search(rf"\b{re.escape(col)}\b", expr)
    ]
    if referenced:
        raise ValueError(
            f"column {col!r} is referenced by CHECK constraint(s) "
            f"{referenced}; drop them first"
        )
    narrowed = dict(fields)
    narrowed["fields"] = [f for f in fields["fields"] if f["name"] != col]
    dropped = sorted(set(snap.dropped) | {col})
    extra = {"dropped": dropped}
    bloom = {c: [m, k] for c, m, k in snap.bloom_spec if c != col}
    if len(bloom) != len(snap.bloom_spec):
        extra["bloom"] = bloom  # retire the dropped column's bloom spec
    return _commit_pinned(
        root, snap.version, "drop_column", [], json.dumps(narrowed),
        "drop column", extra=extra,
    )


def _guard_chain_reuse(batch_cols, root: str, renames) -> None:
    """Refuse a batch that introduces a NEW column named like a rename
    chain's PHYSICAL source: the read-side chain would relabel the new
    column's values into the renamed-away column on any file that lacks
    the rename target (a legal partial-column write) — silent corruption.
    Together with ``rename_column_txn``'s no-source-reuse target guard,
    this keeps the invariant the chain's soundness rests on: a column
    named like chain source ``s_i`` can only ever mean "logical ``s_i``
    as of just before chain entry i".  Compaction materializes the chain
    and frees the names."""
    if not renames:
        return
    try:
        live = {
            f["name"]
            for f in json.loads(snapshot(root).schema_json)["fields"]
        }
    except FileNotFoundError:
        return
    sources = {phys for phys, _ in renames}
    clash = sorted((set(batch_cols) - live) & sources)
    if clash:
        raise ValueError(
            f"columns {clash} are physical source names in the table's "
            "rename chain; compact_txn first (materializes the chain), "
            "then re-add"
        )


def set_identity_txn(
    spark: SparkSession,
    root: str,
    col: str,
    order_by: list[str] | str,
    start: int = 1,
    step: int = 1,
) -> int:
    """Declare ``col`` GENERATED ALWAYS AS IDENTITY (Delta's identity
    columns): every subsequent write that the table accepts gets the
    column ASSIGNED — contiguous values from a HIGH-WATERMARK the commit
    log carries forward — and a batch that tries to SUPPLY the column is
    rejected (ALWAYS semantics; Delta raises the same way).  Existing
    rows are backfilled in one rewrite commit (identity on existing data
    is a rewrite everywhere — Delta simply forbids ALTERing one on).

    DETERMINISM contract (what makes the assignment oracle-checkable and
    re-runnable): ``order_by`` names columns forming a UNIQUE key; each
    batch's ids are its rank order under that key.  Assignment is the
    two-phase bucketed rank (operators/twophase.bucketed_rank — range
    buckets + per-bucket offsets), NEVER a single-task global window, so
    a 100 TB backfill or a wide batch ranks in parallel.  Delta instead
    assigns per-task ranges (non-deterministic values, possible gaps);
    this design trades a batch-local rank shuffle for reproducibility.

    CONCURRENCY: an identity write commits PINNED to the snapshot whose
    watermark assigned its ids — a racing commit raises TxnConflict
    instead of ever re-issuing the same ids (the allocation serializes,
    exactly like Delta's identity high-watermark).  The watermark rides
    every identity commit's entry and folds like the other table
    properties."""
    from pyspark.sql.types import StructType

    snap = snapshot(root)
    fields = {f.name for f in StructType.fromJson(json.loads(snap.schema_json)).fields}
    order = [order_by] if isinstance(order_by, str) else list(order_by)
    if col in fields:
        raise ValueError(
            f"identity column {col!r} already exists in the schema; "
            "identity declares a NEW generated column"
        )
    if col in snap.dropped:
        raise ValueError(f"{col!r} was DROPped; compact_txn first")
    if dict(snap.generated).get(col) or any(c == col for c, *_ in snap.identity_spec):
        raise ValueError(f"{col!r} already has a generation rule")
    missing = [c for c in order if c not in fields]
    if missing:
        raise ValueError(f"identity order_by columns {missing} not in schema")
    if int(step) == 0:
        raise ValueError("identity step must be non-zero")
    ident = {
        c: [st, sp, nx, list(ob)] for c, st, sp, nx, ob in snap.identity_spec
    }
    rows = read_txn(spark, root, version=snap.version)
    n = rows.count()
    ident[col] = [int(start), int(step), int(start) + int(step) * n, order]
    if n == 0:
        # metadata-only declaration: schema widens, watermark = start
        wider = json.loads(snap.schema_json)
        wider["fields"] = list(wider["fields"]) + [
            {"name": col, "type": "long", "nullable": False, "metadata": {}}
        ]
        return _commit_pinned(
            root, snap.version, "set_identity", [], json.dumps(wider),
            "set identity", extra={"identity": ident},
        )
    assigned = _assign_identity(rows, col, int(start), int(step), order)
    rels, schema_json, stats = _stage_checked(
        assigned, root, snap.constraints, snap.bloom_spec, snap.ndv_spec
    )
    actions = [
        {"remove": os.path.relpath(p, root)} for p in snap.files
    ] + [{"add": r, "stats": stats[r]} for r in rels]
    return _commit_pinned(
        root, snap.version, "set_identity", actions, schema_json,
        "set identity", extra={"identity": ident},
    )


def _assign_identity(
    df: DataFrame, col: str, next_val: int, step: int, order: list[str]
) -> DataFrame:
    """Assign ``col = next_val + step * (rank - 1)`` with rank = the
    batch's 1-based order under ``order`` — via the two-phase bucketed
    rank when the leading key is numeric (scale path: range buckets +
    broadcast offsets, no single-task window), else a plain window (the
    caller documented order_by as a unique key; non-numeric leading keys
    are rare and bounded by the batch)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F
    from pyspark.sql.types import NumericType

    lead = df.schema[order[0]].dataType
    if isinstance(lead, NumericType):
        from ..operators.twophase import bucketed_rank, quantile_bucket

        b = quantile_bucket(df, order[0], n=64)
        ranked = bucketed_rank(
            b, F.col("__tp_qb"), [F.col(c) for c in order], out="__id_rn"
        ).drop("__tp_qb")
    else:
        ranked = df.withColumn(
            "__id_rn", F.row_number().over(W.orderBy(*[F.col(c) for c in order]))
        )
    return ranked.withColumn(
        col,
        (F.lit(next_val) + F.lit(step) * (F.col("__id_rn") - F.lit(1))).cast("long"),
    ).drop("__id_rn")


def rename_column_txn(root: str, old: str, new: str) -> int:
    """ALTER TABLE RENAME COLUMN as ONE metadata-only commit (Delta's
    column-mapping rename): the snapshot schema carries the new name and
    the table's ORDERED rename chain records ``(physical, logical)`` —
    files written before the rename keep their physical bytes untouched
    and every read remaps them through the chain (``_scan_files``), so a
    100 TB table renames instantly.  Chained renames (a->b then b->c) and
    swaps resolve by chain order; files written AFTER the rename carry
    the new name natively and the chain no-ops on them (the guard is
    "physical present AND logical absent").  Time travel to pre-rename
    versions shows the old name; RESTORE reinstates the old chain.

    Cost contract: a renamed table reads with one scan group per schema
    GENERATION (the generation-coalescing merge is disabled while a chain
    is active — blending a physical source into a bucket that already
    has its logical target would silently NULL the old generation);
    ``compact_txn`` rewrites everything under the current logical names
    and re-unifies.  Loud rejections keep the rename sound: the old name
    must exist; the new name must collide with nothing live, DROPped, or
    mid-chain; partition columns (their tuples key the log), bloomed /
    sketched / generated / constraint-referenced columns (their specs and
    expressions hold the name) must shed those bindings first."""
    import re

    snap = snapshot(root)
    fields = json.loads(snap.schema_json)
    names = [f["name"] for f in fields["fields"]]
    if old not in names:
        raise ValueError(f"no column {old!r} (have {names})")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    if new in snap.dropped:
        raise ValueError(
            f"{new!r} was DROPped and its data is still present in old "
            "files; compact_txn first, then rename"
        )
    if any(new == phys for phys, _ in snap.renames):
        raise ValueError(
            f"{new!r} is a physical name still live in the rename chain; "
            "compact_txn to materialize the chain first"
        )
    if old in snap.partition_cols:
        raise ValueError(
            f"column {old!r} is a partition column; the partition spec "
            "(and its log-recorded tuples) is immutable"
        )
    id_bound = {c for c, *_ in snap.identity_spec} | {
        oc for _c, _s, _p, _n, ob in snap.identity_spec for oc in ob
    }
    if old in id_bound:
        raise ValueError(
            f"column {old!r} is bound by an IDENTITY declaration "
            "(generated column or its order_by key); not renameable"
        )
    for what, exprs in (
        ("CHECK constraint", snap.constraints),
        ("generated-column expression", snap.generated),
    ):
        hit = [
            n for n, expr in exprs if re.search(rf"\b{re.escape(old)}\b", expr)
        ] + [n for n, _ in exprs if n == old and what.startswith("generated")]
        if hit:
            raise ValueError(
                f"column {old!r} is bound by {what}(s) {sorted(set(hit))}; "
                "drop them first"
            )
    if any(c == old for c, _, _ in snap.bloom_spec) or any(
        c == old for c, _ in snap.ndv_spec
    ):
        raise ValueError(
            f"column {old!r} has a bloom/ndv spec keyed by name; retire the "
            "spec first (per-file sketches are recorded under it)"
        )
    renamed = dict(fields)
    renamed["fields"] = [
        ({**f, "name": new} if f["name"] == old else f) for f in fields["fields"]
    ]
    chain = [list(r) for r in snap.renames] + [[old, new]]
    return _commit_pinned(
        root, snap.version, "rename_column", [], json.dumps(renamed),
        "rename column", extra={"renames": chain},
    )


def set_bloom_txn(
    spark: SparkSession,
    root: str,
    spec: dict,
    backfill: bool = True,
) -> int:
    """Declare per-file BLOOM FILTER indexes for equality data skipping
    (Delta's ``CREATE BLOOMFILTER INDEX`` idea): min/max stats prune
    range predicates on clustered columns, but on a high-cardinality
    UNCLUSTERED key (order id, user id, uuid) every file's [min, max]
    spans the whole domain and nothing ever skips — a point lookup still
    opens all 100 TB.  A per-file Bloom bitset answers "could value v be
    in this file?" in O(k) bit probes against KILOBYTES in the log,
    skipping every file the key provably isn't in.

    ``spec`` maps column -> m (bits) or -> (m, k).  Size m at roughly
    10 bits per expected DISTINCT value per file for ~1% false positives
    with the default k=5 (standard Bloom arithmetic); a false positive
    only costs an extra file read, never correctness.  The spec is a
    table property: every subsequent write / MERGE rewrite / compaction
    computes blooms for its new files in-pass.  ``backfill=True`` also
    builds blooms for the CURRENT live files (one column-pruned scan) and
    publishes them as a METADATA-ONLY commit — same file paths re-added
    with enriched stats, DV chains re-applied, zero data bytes moved.
    Readers pick blooms up automatically: ``read_txn(where="key = v")``
    probes them for every point-equality bound (see ``_keep_files``).
    Pinned OCC; the change feed treats the backfill as a non-change."""
    snap = snapshot(root)
    from pyspark.sql.types import StructType

    names = {f.name for f in StructType.fromJson(json.loads(snap.schema_json)).fields}
    norm: dict[str, list[int]] = {}
    for c, v in spec.items():
        if c not in names:
            raise ValueError(f"bloom column {c!r} not in table schema (have {sorted(names)})")
        if c in snap.partition_cols:
            raise ValueError(
                f"bloom on partition column {c!r} is pointless and unsound: "
                "its values are metadata-resident ([v, v] stats already "
                "prune exactly) and absent from the data bytes"
            )
        m, k = (int(v[0]), int(v[1])) if isinstance(v, (tuple, list)) else (int(v), 5)
        if m < 8 or k < 1:
            raise ValueError(f"bloom spec for {c!r} needs m >= 8 bits, k >= 1 (got m={m}, k={k})")
        norm[c] = [m, k]
    merged = {c: [m, k] for c, m, k in snap.bloom_spec}
    merged.update(norm)
    triples = tuple(sorted((c, v[0], v[1]) for c, v in norm.items()))
    actions: list[dict] = []
    if backfill and snap.files:
        items = [
            (os.path.relpath(p, root), sj)
            for p, sj in zip(snap.files, snap.file_schemas)
        ]
        blooms = _compute_blooms(spark, root, items, triples, snap.renames)
        dv_applies: dict[str, list[str]] = {}
        for rel_sj, p, st, dvs in zip(
            items, snap.files, snap.file_stats, snap.file_dvs
        ):
            rel, sj = rel_sj
            new_st = dict(st)
            # resolve whatever form recorded the existing blooms (inline
            # legacy / sidecar), merge in the new columns, publish ONE
            # fresh sidecar — the log entry carries only the reference
            bl = dict(_bloom_cols(root, new_st))
            bl.update(blooms.get(rel, {}))
            entry_bl = _bloom_write_sidecar(root, bl)
            if entry_bl:
                new_st[_BLOOM_KEY] = entry_bl
            actions.append({"add": rel, "stats": new_st, "schema": sj})
            for d in dvs:
                dv_applies.setdefault(d, []).append(rel)
        actions += [
            {"dv": d, "applies": sorted(rels)}
            for d, rels in sorted(dv_applies.items())
        ]
    return _commit_pinned(
        root, snap.version, "set_bloom", actions, snap.schema_json,
        "set bloom", extra={"bloom": merged},
    )


def set_ndv_txn(
    spark: SparkSession, root: str, spec: dict, backfill: bool = True
) -> int:
    """Declare per-file KMV NDV SKETCHES for the given columns — the
    ANALYZE-statistics layer a cost-based planner needs at 100 TB, kept
    incrementally in the log instead of recomputed by table scans
    (Delta's ``ANALYZE ... COMPUTE STATISTICS`` / Iceberg's
    ``distinct_counts`` puffin stats).  ``spec`` maps column -> k (sketch
    size; expected relative error ~ 1/sqrt(k)).  The spec is a table
    property: every subsequent write / MERGE / compaction computes its
    new files' sketches in-pass (one column-pruned pass, bounded at k
    values per file per column), and ``ndv_estimate_txn`` merges them
    into table-level distinct-count estimates with ZERO data I/O.

    Columns are restricted to integer/string types: the sketch hash is
    the md5 prefix of the value's STRING form, and only those casts are
    bit-identical across engines (the property that makes the estimates
    cross-engine oracle-checkable; float formatting is not).
    ``backfill=True`` sketches the CURRENT live files (one column-pruned
    scan) and republishes their stats as a metadata-only commit, DV
    chains re-applied — same shape as the Bloom backfill.  Pinned OCC."""
    from pyspark.sql.types import StructType

    snap = snapshot(root)
    fields = {
        f.name: f.dataType.typeName()
        for f in StructType.fromJson(json.loads(snap.schema_json)).fields
    }
    ok_types = {"byte", "short", "integer", "long", "string"}
    norm: dict[str, int] = {}
    for c, k in spec.items():
        if c not in fields:
            raise ValueError(
                f"ndv column {c!r} not in table schema (have {sorted(fields)})"
            )
        if c in snap.partition_cols:
            raise ValueError(
                f"ndv sketch on partition column {c!r} is unsound: its "
                "values are metadata-resident (count the distinct __pv "
                "tuples in the log — exact and free), not in the data bytes"
            )
        if fields[c] not in ok_types:
            raise ValueError(
                f"ndv column {c!r} has type {fields[c]!r}; only integer and "
                "string columns sketch cross-engine-deterministically"
            )
        if int(k) < 8:
            raise ValueError(f"ndv sketch for {c!r} needs k >= 8 (got {k})")
        norm[c] = int(k)
    # RAISING a column's k without a backfill would silently BIAS the
    # estimator (ADVICE r10 low): files sketched under the old smaller k
    # were truncated there, so bottom-k_new of the union is no longer
    # guaranteed to equal the global bottom-k_new (the KMV union property
    # the estimate depends on) — a plausible-looking wrong number.
    # Lowering k is always sound (bottom-k' ⊆ the recorded bottom-k).
    old_spec = dict(snap.ndv_spec)
    k_raised = sorted(
        c for c, k in norm.items() if c in old_spec and k > old_spec[c]
    )
    if k_raised and not backfill and snap.files:
        raise ValueError(
            f"raising k for sketched column(s) {k_raised} requires "
            "backfill=True: existing per-file sketches were truncated at "
            "the old k, so estimates under the larger k would be biased"
        )
    merged = {c: k for c, k in snap.ndv_spec}
    merged.update(norm)
    pairs = tuple(sorted(norm.items()))
    actions: list[dict] = []
    if backfill and snap.files:
        items = [
            (os.path.relpath(p, root), sj)
            for p, sj in zip(snap.files, snap.file_schemas)
        ]
        sketches = _compute_ndv_sketches(spark, root, items, pairs, snap.renames)
        dv_applies: dict[str, list[str]] = {}
        for (rel, sj), st, dvs in zip(items, snap.file_stats, snap.file_dvs):
            new_st = dict(st)
            sk = dict(new_st.get(_NDV_KEY) or {})
            sk.update(sketches.get(rel, {}))
            new_st[_NDV_KEY] = sk
            actions.append({"add": rel, "stats": new_st, "schema": sj})
            for d in dvs:
                dv_applies.setdefault(d, []).append(rel)
        actions += [
            {"dv": d, "applies": sorted(rels)}
            for d, rels in sorted(dv_applies.items())
        ]
    return _commit_pinned(
        root, snap.version, "set_ndv", actions, snap.schema_json,
        "set ndv", extra={"ndv": merged},
    )


def ndv_estimate_txn(root: str, version: int | None = None) -> dict[str, int]:
    """Table-level distinct-count estimates per sketched column from the
    LOG ALONE — no data file opens, so the planner statistics cost is
    O(files × k) integers however big the table is.  Merging is the KMV
    union property: the k smallest hashes globally are each among their
    own file's k smallest, so bottom-k of the union of per-file sketches
    equals bottom-k of the raw data, and

        n̂ = floor((k-1) * 2^32 / (h_k + 1));   exact count when < k

    — the same estimator (and the same md5-prefix hash) as the registered
    ``q_weekly_unique_users_approx``, hence DuckDB-oracle-checkable.
    Files written BEFORE the spec existed have no sketch and contribute
    nothing; backfill covers them (``set_ndv_txn``).  Known staleness,
    shared with every log-stats design: DV-tombstoned rows still count
    until a rewrite materializes them away (stats describe written
    files)."""
    snap = snapshot(root, version=version)
    out: dict[str, int] = {}
    for col, k in snap.ndv_spec:
        union: set[int] = set()
        for st in snap.file_stats:
            union.update((st.get(_NDV_KEY) or {}).get(col, ()))
        if len(union) < k:
            out[col] = len(union)
        else:
            h_k = sorted(union)[k - 1]
            out[col] = int((k - 1) * _NDV_SPACE // (h_k + 1))
    return out


def _merged_sketch(root: str, col: str, version: int | None = None) -> tuple[list[int], int]:
    """(bottom-k of the union of per-file sketches, k) for one sketched
    column — the table-level KMV sketch, recovered from the log alone."""
    snap = snapshot(root, version=version)
    spec = dict(snap.ndv_spec)
    if col not in spec:
        raise ValueError(
            f"column {col!r} has no NDV sketch on {root} "
            f"(have {sorted(spec)}); set_ndv_txn first"
        )
    k = spec[col]
    union: set[int] = set()
    for st in snap.file_stats:
        union.update((st.get(_NDV_KEY) or {}).get(col, ()))
    return sorted(union)[:k], k


def ndv_overlap_estimate_txn(
    root_a: str, col_a: str, root_b: str, col_b: str
) -> dict[str, int]:
    """JOIN-KEY OVERLAP estimate between two sketched columns from the
    LOG ALONE — the statistic a cost-based planner wants before picking a
    join strategy at 100 TB (estimated matching-key count ~ join
    selectivity), computed without opening a single data file on either
    side.  Classic KMV set arithmetic (Beyer et al., SIGMOD 2007): with
    ``S`` = the k smallest hashes of sketch(A) ∪ sketch(B),

        union_ndv        ≈ the plain KMV estimate on S
        jaccard          ≈ |S ∩ A ∩ B| / |S|   (matches among the bottom-k)
        intersection_ndv ≈ matches * union_ndv // |S|

    All integer arithmetic over the same md5-prefix hashes the sketches
    were built with, so the estimates are cross-engine oracle-checkable.
    Both sketches should use the same k (the union truncates to the
    smaller).  Returns {"union_ndv", "intersection_ndv", "jaccard_ppm"}.
    """
    sa, ka = _merged_sketch(root_a, col_a)
    sb, kb = _merged_sketch(root_b, col_b)
    k = min(ka, kb)
    set_a, set_b = set(sa), set(sb)
    s = sorted(set_a | set_b)[:k]
    if not s:
        return {"union_ndv": 0, "intersection_ndv": 0, "jaccard_ppm": 0}
    if len(s) < k:
        union_ndv = len(s)
    else:
        union_ndv = (k - 1) * _NDV_SPACE // (s[k - 1] + 1)
    matches = sum(1 for h in s if h in set_a and h in set_b)
    inter = matches * union_ndv // len(s)
    return {
        "union_ndv": union_ndv,
        "intersection_ndv": inter,
        "jaccard_ppm": matches * 1_000_000 // len(s),
    }


def write_txn(
    df: DataFrame,
    root: str,
    mode: str = "append",
    max_retries: int = 20,
    extra: dict | None = None,
    expected_base_version: int | None = None,
    app_txn: tuple | None = None,
    partition_by: list[str] | str | None = None,
    _preserve_identity: bool = False,
) -> int:
    """Commit ``df`` to the table atomically; returns the committed
    version.  ``append`` adds files; ``overwrite`` removes every file
    live at the writer's snapshot and adds the new ones.  ``extra``
    key/values ride the commit entry (the streaming sink records its
    micro-batch id there for exactly-once replay detection).

    Optimistic concurrency: the data files are staged ONCE; only the
    cheap log-entry create retries.  An append losing the race simply
    retries at the next version (append/append commutes).  An overwrite
    that loses to ANY concurrent commit raises TxnConflict — its
    remove-set was computed against a stale snapshot.

    ``expected_base_version`` PINS an overwrite to the snapshot the
    caller's rows were derived from (read-modify-write callers — MERGE,
    DELETE — pass the version their read folded): the remove-set is
    computed against THAT snapshot, the commit lands exactly at
    ``expected_base_version + 1``, and a log that has advanced past it
    raises TxnConflict.  Without the pin an overwrite recomputes its
    remove-set from the CURRENT log at commit time, which is only safe
    when the new contents do not depend on the old ("replace whatever is
    there") — a concurrent append landing between a derive-read and an
    unpinned commit would be silently removed.

    ``app_txn=(app_id, version)`` makes an APPEND idempotent (Delta's
    txnAppId/txnVersion): a re-run of the same logical step — an
    orchestrator retrying a failed job, at-least-once schedulers — is a
    no-op when the table has already committed that app's version or a
    later one (returns the current head).  The watermark re-checks
    inside the OCC retry loop, so two racing writers with the same
    (app_id, version) apply exactly once: the loser's retry sees the
    winner's watermark.

    ``partition_by`` (CREATION ONLY — the first commit of a new table)
    declares hive-style PARTITIONED BY columns: every file then belongs
    to exactly one partition tuple, recorded in the log (never in paths —
    the layout stays flat uuid names), giving EXACT partition pruning,
    metadata-only dynamic overwrite, and partition-aligned rewrites for
    every DML/maintenance path.  Partition columns must be int/string/
    date typed (their directory string form must round-trip losslessly).

    ``mode="overwrite_partitions"`` is DYNAMIC PARTITION OVERWRITE
    (Spark's ``partitionOverwriteMode=dynamic`` / Delta's
    replaceWhere-by-partition): one atomic commit that replaces EXACTLY
    the partitions present in the batch — their live files drop by
    metadata-only removes, untouched partitions survive by path, and the
    commit is pinned to the writer's snapshot (TxnConflict on any
    interleaved commit, like every read-modify-write here).  The daily
    recompute-one-day-and-swap backfill at 100 TB is this mode on a
    date-partitioned table: cost ∝ the recomputed day, never the table."""
    if mode not in ("append", "overwrite", "overwrite_partitions"):
        raise ValueError(mode)
    if expected_base_version is not None and mode != "overwrite":
        raise ValueError("expected_base_version applies to overwrite commits only")
    exists = bool(_list_versions(root))
    if partition_by is not None:
        pcols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        if exists:
            have = list(snapshot(root).partition_cols)
            if pcols != have:
                raise ValueError(
                    f"partition_by is creation-only: table is PARTITIONED BY "
                    f"{have}, got {pcols}"
                )
        types = {f.name: f.dataType.typeName() for f in df.schema.fields}
        for c in pcols:
            if c not in types:
                raise ValueError(f"partition column {c!r} not in batch schema")
            if types[c] not in _PARTITIONABLE_TYPES:
                raise ValueError(
                    f"partition column {c!r} has type {types[c]!r}; only "
                    f"{sorted(_PARTITIONABLE_TYPES)} partition losslessly"
                )
        if not exists:
            extra = {**(extra or {}), "partition": pcols}
    if mode == "overwrite_partitions":
        if not (exists and snapshot(root).partition_cols):
            raise ValueError(
                "overwrite_partitions requires an existing PARTITIONED table"
            )
    if app_txn is not None:
        if mode != "append":
            raise ValueError("app_txn idempotence applies to append commits only")
        app_id, app_ver = str(app_txn[0]), int(app_txn[1])
        seen = last_app_version(root, app_id)
        if seen is not None and seen >= app_ver:
            return _list_versions(root)[-1]  # already applied: no-op
        extra = {**(extra or {}), "app_txn": [app_id, app_ver]}
    cons, bloom_spec, dropped, ndv_spec, renames = _table_meta(root)
    zombie = sorted(set(df.columns) & set(dropped))
    if zombie:
        # re-adding a DROPped name would resurrect the old files' physical
        # values for it (reads map by name, not physical id) — data
        # corruption masquerading as a new column
        raise ValueError(
            f"columns {zombie} were DROPped and their data is still present "
            "in old files; compact_txn first (purges them physically and "
            "clears the tombstone), then re-add"
        )
    _guard_chain_reuse(df.columns, root, renames)
    df = _apply_generated(df, root)
    # GENERATED ALWAYS AS IDENTITY: assign from the snapshot's high
    # watermark and commit PINNED to that snapshot — allocation serializes
    # (a racing commit raises TxnConflict; ids are never re-issued).
    id_snap = snapshot(root) if exists else None
    ident = {
        c: (st0, sp, nx, list(ob))
        for c, st0, sp, nx, ob in (id_snap.identity_spec if id_snap else ())
    }
    id_map: dict | None = None
    if ident and _preserve_identity:
        # internal row-preserving rewrite (DELETE's kept rows): the ids
        # are already assigned and must survive verbatim; the watermark
        # does not move
        ident = {}
    if ident:
        clash = sorted(set(df.columns) & set(ident))
        if clash:
            raise ValueError(
                f"columns {clash} are GENERATED ALWAYS AS IDENTITY; the "
                "batch must omit them (the table assigns the values)"
            )
        if expected_base_version is not None and expected_base_version != id_snap.version:
            raise TxnConflict(
                "identity assignment reads the head watermark; the pinned "
                f"base {expected_base_version} is stale (head {id_snap.version})"
            )
        id_map = {
            c: [st0, sp, nx, ob] for c, (st0, sp, nx, ob) in ident.items()
        }
        for c, (st0, sp, nx, ob) in ident.items():
            df = _assign_identity(df, c, nx, sp, ob)
        # LAZY checkpoint + count in ONE job (the count is the
        # materializing action; blocks persist exactly as with eager=True,
        # and the stage write below rides them)
        df = df.localCheckpoint(eager=False)
        n_batch = df.count()
        for c, (st0, sp, nx, ob) in ident.items():
            id_map[c] = [st0, sp, nx + sp * n_batch, ob]
        extra = {**(extra or {}), "identity": id_map}
    rels, schema_json, stats = _stage_checked(
        df, root, cons, bloom_spec, ndv_spec,
        partition_cols=pcols if (partition_by is not None and not exists) else None,
    )
    adds = [{"add": r, "stats": stats[r]} for r in rels]
    if id_map is not None:
        # pinned identity commit (any mode): removes computed against the
        # SAME snapshot whose watermark assigned the ids
        if mode == "overwrite":
            actions = [
                {"remove": os.path.relpath(p, root)} for p in id_snap.files
            ] + adds
        elif mode == "overwrite_partitions":
            batch_pvs = {
                tuple(sorted((stats[r].get(_PV_KEY) or {}).items()))
                for r in rels
            }
            actions = [
                {"remove": os.path.relpath(p, root)}
                for p, st in zip(id_snap.files, id_snap.file_stats)
                if tuple(sorted((st.get(_PV_KEY) or {}).items())) in batch_pvs
            ] + adds
        else:
            actions = adds
        return _commit_pinned(
            root, id_snap.version, mode, actions, schema_json,
            "identity write", extra,
        )
    if expected_base_version is not None:
        pin = expected_base_version
        versions = _list_versions(root)
        if pin != -1 and pin not in versions:
            raise ValueError(f"expected_base_version {pin} is not a committed version")
        live = _fold(root, [v for v in versions if v <= pin]).files if pin >= 0 else ()
        actions = [{"remove": os.path.relpath(p, root)} for p in live] + adds
        return _commit_pinned(
            root, pin, mode, actions, schema_json, "pinned overwrite", extra
        )
    for _ in range(max_retries):
        versions = _list_versions(root)
        base = versions[-1] if versions else -1
        if app_txn is not None and versions:
            # re-check INSIDE the loop: a racing writer with the same
            # (app_id, version) that won an earlier version must turn
            # this attempt into a no-op, never a duplicate apply
            seen = last_app_version(root, str(app_txn[0]))
            if seen is not None and seen >= int(app_txn[1]):
                # the data files were already staged into root: drop them
                # now instead of leaving orphans for vacuum (ADVICE r9)
                for r in rels:
                    try:
                        os.unlink(os.path.join(root, r))
                    except OSError:
                        pass
                return base
        actions = list(adds)
        if mode == "overwrite":
            if versions:
                live = _fold(root, versions).files
                actions = [
                    {"remove": os.path.relpath(p, root)} for p in live
                ] + actions
        elif mode == "overwrite_partitions":
            # replace exactly the partitions the batch carries: live files
            # whose log-recorded partition tuple matches drop by
            # metadata-only removes; every other partition survives BY PATH
            batch_pvs = {
                tuple(sorted((stats[r].get(_PV_KEY) or {}).items()))
                for r in rels
            }
            cur = _fold(root, versions)
            actions = [
                {"remove": os.path.relpath(p, root)}
                for p, st in zip(cur.files, cur.file_stats)
                if tuple(sorted((st.get(_PV_KEY) or {}).items())) in batch_pvs
            ] + actions
        entry = _build_entry(mode, base + 1, actions, schema_json, extra)
        if _try_commit(root, base + 1, entry):
            _maybe_checkpoint(root, base + 1)
            return base + 1
        if mode in ("overwrite", "overwrite_partitions"):
            raise TxnConflict(
                f"{mode} of {root} lost the race for version {base + 1}"
            )
    raise TxnConflict(f"append to {root} exhausted {max_retries} retries")


def _interval_touched(
    spark: SparkSession, source: DataFrame, snap: Snapshot, key: str
) -> set[int]:
    """The indices of snapshot files whose log-recorded [min, max] for
    ``key`` contains at least one actual source key value.  The probe is
    one small job: distinct source keys range-join a BROADCAST relation
    of the file intervals (file count is metadata-sized) — the
    Delta-MERGE data-skipping idea, exact per file rather than one coarse
    source-wide interval.  Files with no recorded stats for ``key``
    (pre-evolution files, stats-less row groups) are conservatively
    touched.  NULL source keys match nothing under equi-join semantics
    and are ignored."""
    from pyspark.sql import functions as F

    ranged = [
        (i, st[key][0], st[key][1])
        for i, st in enumerate(snap.file_stats)
        if key in st
    ]
    touched = {i for i, st in enumerate(snap.file_stats) if key not in st}
    if not ranged:
        return touched
    lo0 = ranged[0][1]
    if isinstance(lo0, bool) or not all(
        isinstance(r[1], type(lo0)) and isinstance(r[2], type(lo0)) for r in ranged
    ):
        # heterogeneous / bool stats: pruning unprovable, rewrite everything
        return touched | {r[0] for r in ranged}
    probe_key = F.col(key)
    if isinstance(lo0, str):
        # recorded bounds may be stringified (date/timestamp footers):
        # Spark's string cast of those types is the same ISO text, which
        # compares lexicographically consistently with the parquet bounds
        probe_key = probe_key.cast("string")
    bound_t = {bool: "boolean", int: "bigint", float: "double", str: "string"}.get(
        type(lo0)
    )
    rdf = (
        values_relation(spark, ranged, f"f_idx bigint, lo {bound_t}, hi {bound_t}")
        if bound_t is not None
        # stats of a type the literal renderer doesn't know: keep the old
        # inference path rather than guessing a CAST
        else spark.createDataFrame(ranged, ["f_idx", "lo", "hi"])
    )
    hits = (
        source.select(probe_key.alias("_mk"))
        .where(F.col("_mk").isNotNull())
        .distinct()
        .join(
            F.broadcast(rdf),
            (F.col("_mk") >= F.col("lo")) & (F.col("_mk") <= F.col("hi")),
        )
        .select("f_idx")
        .distinct()
        .collect()
    )
    return touched | {r.f_idx for r in hits}


# A MERGE source with more distinct keys than this skips Bloom refinement
# (the bit probe would collect limit x k ints to the driver; beyond it the
# source plausibly touches most files anyway and intervals did the work).
def _bloom_family_match(src_dt, tgt_dt) -> bool:
    """True when equality between the two types coerces neither side in a
    way that could diverge from hashing the source value cast to the
    target type: both string, or both integral.  Anything else (float vs
    int, string vs numeric, decimal widths, dates) skips Bloom pruning —
    keeping the files is always sound."""
    from pyspark.sql.types import (
        ByteType, IntegerType, LongType, ShortType, StringType,
    )

    integral = (ByteType, ShortType, IntegerType, LongType)
    if isinstance(src_dt, StringType) and isinstance(tgt_dt, StringType):
        return True
    return isinstance(src_dt, integral) and isinstance(tgt_dt, integral)


_BLOOM_MERGE_PROBE_LIMIT = 4096


def _merge_touched_indices(
    spark: SparkSession, source: DataFrame, snap: Snapshot, keys: list[str]
) -> list[int]:
    """Dynamic file pruning for MERGE: the indices of snapshot files that
    MAY hold a row matching some source row on EVERY join key.

    Two pruning axes compose, both sound (a kept file may still match;
    a dropped file provably cannot):
    - INTERVAL intersection over ALL keys: a matching tuple must fall in
      the file's [min, max] on each key independently, so the touched set
      is the intersection of each key's interval hits (round 8 widened
      this from first-key-only).
    - BLOOM refinement: for a key carrying per-file Bloom filters
      (``set_bloom_txn``), a candidate file is kept only if at least one
      distinct source key value's bits are all set — the equality-lookup
      axis where intervals are useless (unclustered high-cardinality
      keys).  Probes hash through the same JVM expression as the build;
      sources with more than ``_BLOOM_MERGE_PROBE_LIMIT`` distinct keys
      skip refinement."""
    import base64

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    touched = set(range(len(snap.files)))
    for key in keys:
        if not touched:
            return []
        touched &= _interval_touched(spark, source, snap, key)
    mk = {c: (m, k) for c, m, k in snap.bloom_spec}
    fields = {
        f.name: f.dataType
        for f in StructType.fromJson(json.loads(snap.schema_json)).fields
    }
    src_fields = {f.name: f.dataType for f in source.schema.fields}
    for key in keys:
        if key not in mk or key not in fields or not touched:
            continue
        if not _bloom_family_match(src_fields.get(key), fields[key]):
            # probe hashes source values CAST to the target type, but the
            # merge join may coerce the TARGET column instead — only probe
            # when both coercions provably agree (same type family), else
            # keep the candidates (sound, ADVICE r9)
            continue
        cols_of = {
            i: _bloom_cols(snap.root, snap.file_stats[i]) for i in touched
        }
        cand = [i for i in touched if cols_of[i].get(key)]
        if not cand:
            continue
        m, k = mk[key]
        try:
            rows = (
                source.select(F.col(key).cast(fields[key]).alias("v"))
                .where(F.col("v").isNotNull())
                .distinct()
                .limit(_BLOOM_MERGE_PROBE_LIMIT + 1)
                .select(
                    *[
                        F.pmod(F.xxhash64(F.col("v"), F.lit(s)), F.lit(m)).alias(
                            f"b{s}"
                        )
                        for s in range(k)
                    ]
                )
                .collect()
            )
        except Exception:  # noqa: BLE001 - uncastable key: skip refinement
            continue
        if len(rows) > _BLOOM_MERGE_PROBE_LIMIT:
            continue
        bitlists = [[r[f"b{s}"] for s in range(k)] for r in rows]
        for i in cand:
            b = cols_of[i][key]
            if b["m"] != m or b["k"] != k:
                continue
            data = base64.b64decode(b["b64"])
            if not any(
                all(data[x >> 3] & (1 << (x & 7)) for x in bits)
                for bits in bitlists
            ):
                touched.discard(i)
    return sorted(touched)


def _guard_ambiguous_merge_source(
    spark: SparkSession, source: DataFrame, snap, keys: list[str],
    touched: list[int], want, root: str,
) -> None:
    """Raise when MULTIPLE source rows would match ONE target row — the
    Delta ``DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW`` contract
    (ADVICE r10 / VERDICT r10 #1).  Without it the upsert's union lands
    duplicate keys and ``merge_when_txn``'s left join silently FANS OUT
    the matched target row (two updated copies survive the commit) — a
    correctness violation on a legal CDC input (late + early version of
    the same key in one batch).

    Cost shape: the common (unique-key) case is ONE tiny aggregation over
    the already-localCheckpointed source — no target I/O.  Only when the
    source actually carries duplicate keys does the probe scan, and then
    only the already-file-pruned touched set, semi-joined against the
    broadcast duplicate-key list with ``limit(1)``.  Rows with a NULL in
    any join key never match a target (MERGE equi-join semantics), so
    they are excluded; duplicate keys that match NO target row are
    Delta-legal (each inserts) and pass."""
    from pyspark.sql import functions as F

    if not touched:
        return
    dup = (
        source.na.drop(subset=keys)
        .groupBy(*keys)
        .count()
        .filter(F.col("count") > 1)
        .drop("count")
    )
    if dup.isEmpty():
        return
    hit = (
        _scan_files(
            spark,
            [
                _snap_item(snap, i)
                for i in touched
            ],
            want,
            root=root,
            renames=snap.renames,
        )
        .join(F.broadcast(dup), on=keys, how="left_semi")
        .limit(1)
    )
    if not hit.isEmpty():
        raise ValueError(
            "MERGE: multiple source rows matched the same target row "
            f"(duplicate join key(s) on {keys} in the source); a target row "
            "can only be modified by one source row — deduplicate the CDC "
            "batch first (e.g. keep the latest version per key)"
        )


def merge_txn(
    spark: SparkSession, source: DataFrame, root: str, on: list[str] | str,
    evolve_schema: bool = False,
) -> int:
    """MERGE (upsert): rows of ``source`` replace target rows with equal
    ``on`` keys; unmatched source rows insert.  Committed as ONE atomic
    entry pinned to the snapshot the survivors were derived from
    (TxnConflict if any commit — even a commuting append — lands in
    between), so readers see pre- or post-merge, never a mix, and no
    concurrent writer's rows can be silently dropped.

    FILE-PRUNED rewrite (the Delta MERGE shape): only files whose
    log-recorded key range actually contains a source key are read,
    anti-joined, and rewritten; every other live file survives the commit
    UNTOUCHED (its ``add`` action stays live — no read, no write, no
    shuffle).  At 100 TB a small CDC batch against a key-clustered table
    rewrites a handful of files instead of the table.  Within the touched
    set the survivor side is ``touched LEFT ANTI JOIN source`` — a
    broadcast of the small source, key-only comparison.

    Source columns absent from the target are LOUD by default (dropping
    them would look like a successful merge that lost data);
    ``evolve_schema=True`` opts into Delta's automatic schema evolution
    instead: the new columns extend the table schema, untouched files
    surface NULL for them by the additive-evolution read rule — no
    rewrite of anything the merge wasn't touching anyway.

    AMBIGUOUS sources are LOUD (Delta parity): if two source rows carry
    the same join key AND that key matches a target row, the merge
    raises instead of landing both copies — see
    :func:`_guard_ambiguous_merge_source`.  Duplicate keys that match
    nothing insert as-is, exactly like Delta's INSERT clause."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    keys = [on] if isinstance(on, str) else list(on)
    snap = snapshot(root)
    want = StructType.fromJson(json.loads(snap.schema_json))
    target_cols = [f.name for f in want.fields]
    extra_cols = [c for c in source.columns if c not in target_cols]
    if extra_cols and not evolve_schema:
        raise ValueError(
            f"merge source has columns absent from the target: {extra_cols} "
            "(pass evolve_schema=True to extend the table schema)"
        )
    if extra_cols:
        _guard_chain_reuse(extra_cols, root, snap.renames)
    zombie = sorted(set(extra_cols) & set(snap.dropped))
    if zombie:
        raise ValueError(
            f"columns {zombie} were DROPped and their data is still present "
            "in old files; compact_txn first, then evolve"
        )
    if extra_cols:
        want = StructType(
            list(want.fields)
            + [source.schema[c] for c in source.columns if c in extra_cols]
        )
        target_cols = [f.name for f in want.fields]
    # a CDC batch is small by contract and feeds several probe jobs plus
    # the anti-join: materialize it once
    if snap.identity_spec:
        raise ValueError(
            "MERGE on a table with IDENTITY columns is not supported: the "
            "replace-by-key upsert cannot both preserve matched rows' ids "
            "and assign unmatched ones under ALWAYS semantics; use "
            "delete_txn + write_txn"
        )
    source = source.localCheckpoint(eager=True)
    touched = _merge_touched_indices(spark, source, snap, keys)
    _guard_ambiguous_merge_source(spark, source, snap, keys, touched, want, root)
    survivors = _scan_files(
        spark,
        [_snap_item(snap, i) for i in touched],
        want,
        root=root,
        renames=snap.renames,
    ).join(source, on=keys, how="left_anti")
    merged = survivors.unionByName(source.select(*target_cols))
    rels, schema_json, stats = _stage_checked(
        merged, root, snap.constraints, snap.bloom_spec, snap.ndv_spec
    )
    actions = [
        {"remove": os.path.relpath(snap.files[i], root)} for i in touched
    ] + [{"add": r, "stats": stats[r]} for r in rels]
    return _commit_pinned(root, snap.version, "merge", actions, schema_json, "merge")


def merge_when_txn(
    spark: SparkSession,
    source: DataFrame,
    root: str,
    on: list[str] | str,
    matched_update: dict[str, str] | None = None,
    matched_delete: str | None = None,
    insert_unmatched: bool = True,
    unmatched_insert: dict[str, str] | None = None,
    not_matched_by_source_delete: str | None = None,
) -> int:
    """The FULL Delta MERGE grammar (staged r11), completing the DML
    spectrum beyond :func:`merge_txn`'s replace-by-key upsert:

        WHEN MATCHED [AND <matched_delete>]           THEN DELETE
        WHEN MATCHED                                  THEN UPDATE SET
            <matched_update: col -> SQL expr over t.* / s.*>
        WHEN NOT MATCHED [BY TARGET]                  THEN INSERT
            [* | <unmatched_insert: col -> SQL expr over s.*>]
        WHEN NOT MATCHED BY SOURCE
            [AND <not_matched_by_source_delete>]      THEN DELETE

    — the one-statement CDC apply (updates + hard deletes + inserts +
    full-sync purge) every warehouse MERGE supports.  Conditions and
    update expressions are SQL over the aliased namespaces ``t.`` (the
    target row) and ``s.`` (the matched source row); ``matched_delete``
    wins over the update for rows satisfying both (Delta clause order).
    NULL join keys never match (standard MERGE equi-join semantics), and
    a NULL condition keeps the row (SQL 3VL, same as ``delete_txn``).

    Scale shape: WITHOUT the BY SOURCE clause the rewrite is FILE-PRUNED
    exactly like ``merge_txn`` (only files whose log-recorded key range
    holds a source key are read or rewritten).  WITH it, every live file
    must be scanned — a target row's fate now depends on source
    ABSENCE, which no per-file statistic can prove — so the rewrite is
    table-wide; Delta pays the same cost for the same reason.  Pinned
    OCC; constraints/blooms/NDV sketches validate and compute in the
    single staging pass; the change feed reports removes+adds as the
    full logical diff.  Returns the committed version (the current one
    when nothing could change: empty source, no BY SOURCE clause).

    AMBIGUOUS sources are LOUD (Delta parity): two source rows with the
    same join key matching one target row would FAN OUT the left join —
    the guard raises before anything is staged; see
    :func:`_guard_ambiguous_merge_source`."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    keys = [on] if isinstance(on, str) else list(on)
    snap = snapshot(root)
    want = StructType.fromJson(json.loads(snap.schema_json))
    target_cols = [f.name for f in want.fields]
    # extra source columns are legal here (op flags, CDC payloads) — they
    # feed conditions/updates and never land in the table
    if snap.identity_spec:
        raise ValueError(
            "MERGE on a table with IDENTITY columns is not supported; "
            "use delete_txn + write_txn"
        )
    source = source.localCheckpoint(eager=True)
    if not_matched_by_source_delete is None and source.isEmpty():
        return snap.version
    if not_matched_by_source_delete is not None:
        touched = list(range(len(snap.files)))  # full scan, see docstring
    else:
        touched = sorted(_merge_touched_indices(spark, source, snap, keys))
    _guard_ambiguous_merge_source(spark, source, snap, keys, touched, want, root)
    t = _scan_files(
        spark,
        [_snap_item(snap, i) for i in touched],
        want,
        root=root,
        renames=snap.renames,
    ).alias("t")
    s = source.withColumn("__m", F.lit(1)).alias("s")
    joined = t.join(
        s, [F.col(f"t.{k}") == F.col(f"s.{k}") for k in keys], "left"
    )
    matched = F.col("s.__m").isNotNull()
    drop_matched = (
        matched & F.coalesce(F.expr(matched_delete), F.lit(False))
        if matched_delete is not None
        else F.lit(False)
    )
    drop_unmatched = (
        ~matched & F.coalesce(F.expr(not_matched_by_source_delete), F.lit(False))
        if not_matched_by_source_delete is not None
        else F.lit(False)
    )
    upd = matched_update or {}
    unknown = sorted(set(upd) - set(target_cols))
    if unknown:
        raise ValueError(f"UPDATE SET targets columns absent from the table: {unknown}")
    out_cols = [
        (
            F.when(matched, F.expr(upd[c]).cast(want[c].dataType))
            .otherwise(F.col(f"t.{c}"))
            if c in upd
            else F.col(f"t.{c}")
        ).alias(c)
        for c in target_cols
    ]
    kept = joined.filter(~drop_matched & ~drop_unmatched).select(*out_cols)
    if insert_unmatched:
        ins = unmatched_insert or {}
        bad = sorted(set(ins) - set(target_cols))
        if bad:
            raise ValueError(f"INSERT maps columns absent from the table: {bad}")
        unmatched_src = source.alias("s").join(
            t.select(*[F.col(f"t.{k}").alias(k) for k in keys]),
            keys, "left_anti",
        )
        inserts = unmatched_src.select(
            *[
                (
                    F.expr(ins[c]).cast(want[c].dataType)
                    if c in ins
                    else (
                        F.col(c)
                        if c in source.columns
                        else F.lit(None).cast(want[c].dataType)
                    )
                ).alias(c)
                for c in target_cols
            ]
        )
        merged = kept.unionByName(inserts)
    else:
        merged = kept
    rels, schema_json, stats = _stage_checked(
        merged, root, snap.constraints, snap.bloom_spec, snap.ndv_spec
    )
    actions = [
        {"remove": os.path.relpath(snap.files[i], root)} for i in touched
    ] + [{"add": r, "stats": stats[r]} for r in rels]
    return _commit_pinned(
        root, snap.version, "merge", actions, schema_json, "merge when"
    )


def delete_txn(spark: SparkSession, root: str, predicate: str) -> int:
    """DELETE WHERE: one atomic commit keeping only rows that do NOT
    satisfy ``predicate`` (a SQL boolean expression over the table's
    columns), PINNED to the snapshot the kept rows were read from — a
    concurrent commit in between raises TxnConflict instead of being
    silently removed.  SQL DELETE semantics for three-valued logic: a row
    whose predicate evaluates NULL is NOT deleted (coalesce to false),
    matching every warehouse's DELETE."""
    from pyspark.sql import functions as F

    snap = snapshot(root)
    kept = read_txn(spark, root, version=snap.version).filter(
        ~F.coalesce(F.expr(predicate), F.lit(False))
    )
    return write_txn(
        kept, root, mode="overwrite", expected_base_version=snap.version,
        _preserve_identity=True,
    )


def delete_txn_dv(spark: SparkSession, root: str, predicate: str) -> int:
    """MERGE-ON-READ DELETE via deletion vectors: rows satisfying
    ``predicate`` are tombstoned by (file, position) in a small sidecar
    parquet; NO data file is read back or rewritten by the commit — at
    100 TB, deleting 0.1% of rows writes kilobytes instead of the table
    (the Delta deletion-vector / Iceberg positional-delete design).
    Readers apply the tombstones as a broadcast anti-join; compaction
    materializes them away.  Three-valued logic matches ``delete_txn``
    (NULL predicate keeps the row).  Pinned to the snapshot the positions
    were derived from — a concurrent commit raises TxnConflict (positions
    against a moved file set would corrupt).  Returns the committed
    version; a predicate matching nothing commits nothing (returns the
    current version).

    The write side is deliberately single-file (tombstones are bounded by
    contract — a delete that matches most of the table should be a
    rewrite, not a DV); positions are computed over the DV-APPLIED view,
    so successive DVs never double-record a row."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    snap = snapshot(root)
    want = StructType.fromJson(json.loads(snap.schema_json))
    # tombstone computation is itself file-pruned: files whose log stats
    # provably cannot match the predicate are never even scanned (they
    # can contribute no tombstones)
    bounds = _prune_from_predicate(predicate)
    items = _keep_files(spark, snap, bounds)
    scan = _scan_files(
        spark, items, want, root=root, keep_pos=True, renames=snap.renames
    )
    matches = scan.filter(F.coalesce(F.expr(predicate), F.lit(False)))
    dv = _write_dv_sidecar(matches, root)
    if dv is None:
        return snap.version
    rel, applies = dv
    actions = [{"dv": rel, "applies": _applies_rels(snap, applies)}]
    return _commit_pinned(
        root, snap.version, "delete", actions, snap.schema_json, "dv delete"
    )


def _applies_rels(snap: Snapshot, basenames: list[str]) -> list[str]:
    """Remap a DV sidecar's ``applies`` basenames onto the fold's live-set
    keys (paths RELATIVE to the table root).  The two coordinate systems
    agree only for files physically under the root; a SHALLOW CLONE's live
    keys are traversal rel paths (``../src/part-x.parquet``) while the
    scan's ``__file`` column is always the basename — attaching by
    basename there silently never matches, and the tombstones are dropped
    on the floor (ADVICE r10 high: replace_where/DV-DML on a clone left
    both old and new row versions live).  The READ side keys by basename
    (``_scan_files``'s anti-join), so only this fold-attach key remaps."""
    rel_of = {
        os.path.basename(p): os.path.relpath(p, snap.root) for p in snap.files
    }
    return sorted(rel_of[b] for b in basenames)


def _write_dv_sidecar(matched: DataFrame, root: str):
    """Write the (file, pos) tombstones of ``matched`` (a keep_pos scan
    subset) as one small DV sidecar parquet; returns (rel_path,
    applies_to_files) or None when nothing matched.  Single-file by
    contract: tombstones are bounded — a predicate matching most of the
    table should rewrite, not DV."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    staging = os.path.join(root, f"_staging_{uuid.uuid4().hex}")
    matched.select(
        F.col("__file").alias("file"), F.col("__pos").alias("pos")
    ).coalesce(1).write.mode("overwrite").parquet(staging)
    import shutil

    part = next(
        (f for f in sorted(os.listdir(staging)) if f.endswith(".parquet")), None
    )
    if part is None or pq.ParquetFile(os.path.join(staging, part)).metadata.num_rows == 0:
        shutil.rmtree(staging, ignore_errors=True)
        return None
    rel = f"dv-{uuid.uuid4().hex}.parquet"
    os.replace(os.path.join(staging, part), os.path.join(root, rel))
    shutil.rmtree(staging, ignore_errors=True)
    applies = sorted(
        {
            str(v)
            for v in pq.read_table(
                os.path.join(root, rel), columns=["file"]
            ).column("file").to_pylist()
        }
    )
    return rel, applies


def update_txn_dv(
    spark: SparkSession, root: str, predicate: str, set_exprs: dict[str, str]
) -> int:
    """MERGE-ON-READ UPDATE via deletion vectors: rows satisfying
    ``predicate`` are tombstoned in a kilobyte sidecar and their UPDATED
    versions (each ``set_exprs`` column replaced by its SQL expression,
    evaluated against the OLD row) are appended — ONE atomic commit, and
    no untouched row is read back or rewritten.  This completes the DML
    spectrum: rewrite DELETE / DV DELETE / file-pruned MERGE / DV UPDATE.
    At 100 TB, repricing 0.1% of rows writes kilobytes of tombstones plus
    only the changed rows (the Delta deletion-vector UPDATE shape).

    Semantics: SQL three-valued logic (NULL predicate leaves the row);
    ``set_exprs`` values cast to the target column's type (an UPDATE
    never evolves the schema); CHECK constraints validate the updated
    rows in-pass; blooms for the new file compute in-pass.  The change
    feed reports the commit as delete(old rows) + insert(new rows) —
    the pre/post-image pair.  The scan that finds matches is itself
    file-pruned (intervals + blooms).  Pinned OCC: any interleaved
    commit raises TxnConflict.  A predicate matching nothing commits
    nothing and returns the current version."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    snap = snapshot(root)
    want = StructType.fromJson(json.loads(snap.schema_json))
    names = [f.name for f in want.fields]
    unknown = sorted(set(set_exprs) - set(names))
    if unknown:
        raise ValueError(f"UPDATE sets columns absent from the table: {unknown}")
    id_cols = sorted(set(set_exprs) & {c for c, *_ in snap.identity_spec})
    if id_cols:
        raise ValueError(
            f"columns {id_cols} are GENERATED ALWAYS AS IDENTITY and "
            "cannot be UPDATEd"
        )
    bounds = _prune_from_predicate(predicate)
    items = _keep_files(spark, snap, bounds)
    scan = _scan_files(
        spark, items, want, root=root, keep_pos=True, renames=snap.renames
    )
    matched = scan.filter(F.coalesce(F.expr(predicate), F.lit(False)))
    # one pass feeds both sides: tombstones AND updated rows derive from
    # the same materialized match set (localCheckpoint keeps the filter
    # from re-running — and keeps the two sides consistent by construction)
    matched = matched.localCheckpoint(eager=True)
    dv = _write_dv_sidecar(matched, root)
    if dv is None:
        return snap.version
    # updated rows are bounded by the same selectivity contract as the
    # sidecar (a predicate matching most of the table should rewrite, not
    # DV) — one output file, not one per scanned partition
    updated = matched.select(
        *[
            F.expr(set_exprs[f.name]).cast(f.dataType).alias(f.name)
            if f.name in set_exprs
            else F.col(f.name)
            for f in want.fields
        ]
    ).coalesce(1)
    rels, schema_json, stats = _stage_checked(
        updated, root, snap.constraints, snap.bloom_spec, snap.ndv_spec
    )
    rel, applies = dv
    actions = [{"dv": rel, "applies": _applies_rels(snap, applies)}] + [
        {"add": r, "stats": stats[r]} for r in rels
    ]
    return _commit_pinned(
        root, snap.version, "update", actions, schema_json, "dv update"
    )


def replace_where_txn(
    spark: SparkSession, root: str, predicate: str, df: DataFrame
) -> int:
    """Atomic predicate-scoped overwrite (Delta's ``replaceWhere``,
    Armbrust et al. VLDB 2020 — the dbt ``insert_overwrite`` pattern the
    reference's warehouse runs for backfills): ONE commit that deletes
    every live row satisfying ``predicate`` and inserts ``df``.  Readers
    see the old region or the new region, never the gap or the double —
    the property a recompute-one-day-and-swap backfill at 100 TB needs
    and which separate DELETE + append commits cannot give.

    Cost is ∝ the replaced region, not the table: files whose
    log-recorded stats prove no row can match are neither read nor
    rewritten; files whose EVERY live row matches are dropped by a
    metadata-only ``remove``; only boundary files (partially matching)
    get deletion-vector tombstones for their matching rows.  A date-band
    backfill on a date-clustered table therefore removes ~band files,
    DVs at most the two boundary files, and never opens the rest.

    Semantics:

    - CONFINEMENT (Delta parity): every row of ``df`` must satisfy
      ``predicate`` STRICTLY (NULL fails) — a row outside the replaced
      region raises ValueError during staging, before any log entry
      exists, because committing it would mutate data the operation
      promised not to touch.  The check embeds in the staging pass (the
      CHECK-constraint machinery), so the batch is scanned once.
    - The DELETE side uses SQL three-valued logic (a NULL predicate
      keeps the row), matching ``delete_txn`` / every warehouse DELETE.
      The asymmetry is deliberate and is Delta's: NULL-predicate rows are
      outside the replaced region, so they survive AND may not appear in
      the incoming batch.
    - Additive schema evolution is allowed (entry schema = merge of the
      snapshot's and the batch's, like MERGE); re-adding a DROPped
      column is rejected like ``write_txn`` (zombie data hazard).
    - Pinned OCC at the derivation snapshot: any interleaved commit
      raises TxnConflict — the remove/tombstone set was derived from
      that snapshot's file list.
    - The change feed needs no new plumbing: the commit's removes report
      as full-file deletes, its DV as ``delete_at``, its adds as inserts
      — exactly delete(replaced rows) + insert(new rows).

    Returns the committed version.  A predicate matching nothing still
    commits the inserts (an additive backfill); an empty ``df`` is a pure
    predicate delete; both empty is a no-op returning the current
    version.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    snap = snapshot(root)
    cons, bloom_spec, dropped, _ndv, _ren = _table_meta(root)
    zombie = sorted(set(df.columns) & set(dropped))
    if zombie:
        raise ValueError(
            f"columns {zombie} were DROPped and their data is still present "
            "in old files; compact_txn first, then re-add"
        )
    # Only ADDITIVE schema evolution is allowed (Delta rejects type
    # changes on replaceWhere): _merge_schemas keeps the SNAPSHOT's type
    # for shared columns, so committing a batch whose column type changed
    # would log the new files under the OLD type and later explicit-schema
    # reads would misread them (ADVICE r10 low).  Checked BEFORE staging
    # so nothing is written on rejection.
    base_types = {
        f["name"]: json.dumps(f["type"], sort_keys=True)
        for f in json.loads(snap.schema_json)["fields"]
    }
    retyped = sorted(
        f.name
        for f in df.schema.fields
        if f.name in base_types
        and json.dumps(f.dataType.jsonValue(), sort_keys=True)
        != base_types[f.name]
    )
    if retyped:
        raise ValueError(
            f"replace_where_txn: batch changes the type of existing "
            f"columns {retyped}; only column ADDITIONS are allowed "
            "(type changes require a full overwrite)"
        )
    _guard_chain_reuse(df.columns, root, snap.renames)
    if snap.identity_spec:
        raise ValueError(
            "replace_where on a table with IDENTITY columns is not "
            "supported: the incoming batch cannot supply ALWAYS-generated "
            "ids; use delete_txn + write_txn"
        )
    confine = ("__replace_where__", f"coalesce(({predicate}), false)")
    try:
        rels, new_schema_json, stats = _stage_checked(
            _apply_generated(df, root), root, list(cons) + [confine],
            bloom_spec, snap.ndv_spec,
        )
    except ConstraintViolation as ex:
        if "__replace_where__" in str(ex):
            raise ValueError(
                "replace_where_txn: written data does not conform to the "
                f"replaceWhere predicate {predicate!r} — {ex}"
            ) from None
        raise
    adds = [{"add": r, "stats": stats[r]} for r in rels]
    # find the replaced region among live files — file-pruned like DELETE:
    # stats-excluded files contribute no removes/tombstones and are never
    # opened
    want = StructType.fromJson(json.loads(snap.schema_json))
    bounds = _prune_from_predicate(predicate)
    items = _keep_files(spark, snap, bounds)
    scan = _scan_files(
        spark, items, want, root=root, keep_pos=True, renames=snap.renames
    )
    hit = F.coalesce(F.expr(predicate), F.lit(False))
    # ONE materialized pass feeds both the per-file coverage counts and
    # the DV sidecar write (ADVICE r10 low): a non-deterministic predicate
    # must not yield inconsistent remove/tombstone sets, and the DV pass
    # must not re-read every kept file — it reads the checkpoint.  The
    # totals pass re-counts the kept files, but it is predicate-free
    # (determinism is irrelevant) and zero-column (footer counts).
    matched = scan.filter(hit).localCheckpoint(eager=True)
    matched_per_file = {
        r["__file"]: r["m"]
        for r in matched.groupBy("__file")
        .agg(F.count(F.lit(1)).alias("m"))
        .collect()
    }
    totals = {
        r["__file"]: r["t"]
        for r in scan.groupBy("__file")
        .agg(F.count(F.lit(1)).alias("t"))
        .collect()
    }
    # __file is the basename; snap.files may reference other roots via
    # traversal rel paths (shallow clones), so removes key by the fold's
    # rel string, recovered from the snapshot's absolute paths
    rel_of = {
        os.path.basename(p): os.path.relpath(p, root) for p in snap.files
    }
    full = sorted(
        rel_of[f] for f, m in matched_per_file.items() if m == totals[f]
    )
    partial = {f for f, m in matched_per_file.items() if m < totals[f]}
    actions: list[dict] = [{"remove": r} for r in full]
    if partial:
        dv = _write_dv_sidecar(
            matched.filter(F.col("__file").isin(sorted(partial))), root
        )
        if dv is not None:
            rel, applies = dv
            actions.append({"dv": rel, "applies": _applies_rels(snap, applies)})
    actions += adds
    if not actions:
        return snap.version
    schema_json = _merge_schemas(snap.schema_json, new_schema_json)
    return _commit_pinned(
        root, snap.version, "replace_where", actions, schema_json,
        "replace_where",
    )


def restore_txn(root: str, version: int) -> int:
    """RESTORE (rollback): make the table's latest state equal its state
    at ``version`` via ONE METADATA-ONLY commit — no data bytes move, so
    rolling back a fat-fingered DELETE on a 100 TB table is instant (the
    Delta RESTORE design).  The commit removes every currently-live file,
    re-adds every file live at ``version`` (each carrying its ORIGINAL
    commit-time schema and stats on the action, so heterogeneous-schema
    history restores exactly), and re-applies that version's deletion-
    vector chains.  History is preserved: the restore is itself a new
    commit, time travel still reaches the undone states, and the change
    feed reports it as the (correct) full logical diff.

    Restorability is bounded by vacuum retention, same as Delta: a data
    file or DV sidecar already vacuumed raises FileNotFoundError before
    anything commits.  Pinned OCC: a concurrent commit between the read
    and the restore raises TxnConflict."""
    versions = _list_versions(root)
    if version not in versions:
        raise ValueError(
            f"version {version} not in log (have {versions[0]}..{versions[-1]})"
        )
    target = _fold(root, [v for v in versions if v <= version])
    cur = _fold(root, versions)
    tgt = [
        (os.path.relpath(p, root), sj, st, dvs)
        for p, sj, st, dvs in zip(
            target.files, target.file_schemas, target.file_stats, target.file_dvs
        )
    ]
    need = {r for r, _, _, _ in tgt}
    for _, _, _, dvs in tgt:
        need.update(dvs)
    gone = sorted(r for r in need if not os.path.exists(os.path.join(root, r)))
    if gone:
        raise FileNotFoundError(
            f"cannot restore {root} to version {version}: "
            f"{len(gone)} file(s) already vacuumed, e.g. {gone[:3]}"
        )
    actions: list[dict] = [
        {"remove": os.path.relpath(p, root)} for p in cur.files
    ]
    actions += [{"add": r, "stats": st, "schema": sj} for r, sj, st, _ in tgt]
    dv_applies: dict[str, list[str]] = {}
    for r, _, _, dvs in tgt:
        for d in dvs:
            dv_applies.setdefault(d, []).append(r)
    actions += [
        {"dv": d, "applies": sorted(rels)} for d, rels in sorted(dv_applies.items())
    ]
    # restore reinstates table METADATA too (constraints / bloom spec /
    # drop tombstones at the target version) — restoring the rows while
    # keeping later metadata would, e.g., show a restored column whose
    # re-add the later drop-tombstone still refuses
    extra = {
        "constraints": dict(target.constraints),
        "bloom": {c: [m, k] for c, m, k in target.bloom_spec},
        "dropped": list(target.dropped),
        "generated": dict(target.generated),
        "ndv": {c: k for c, k in target.ndv_spec},
        "renames": [list(r) for r in target.renames],
        "identity": {
            c: [st, sp, nx, list(ob)]
            for c, st, sp, nx, ob in target.identity_spec
        },
        "cluster": list(target.cluster_by),
    }
    return _commit_pinned(
        root, cur.version, "restore", actions, target.schema_json, "restore",
        extra=extra,
    )


def set_cluster_txn(root: str, cols: list[str] | str | None) -> int:
    """Declare the table's CLUSTERING KEYS (Delta's liquid-clustering
    CLUSTER BY, metadata form): a METADATA-ONLY commit recording which
    columns maintenance should range-cluster on — existing data is NOT
    rewritten (run ``compact_txn`` to apply; Delta's OPTIMIZE applies
    liquid clustering the same lazily).  Once declared, ``compact_txn``
    with no explicit ``cluster_by`` clusters on the declared keys (two
    keys = genuine Z-order), so routine compaction converges the layout
    toward one where the log's min/max stats prune range predicates on
    the declared columns.  ``cols=None`` clears the declaration.
    Unlike the partition spec, clustering keys are MUTABLE — that is the
    liquid-clustering point: re-declare and the next compaction
    re-clusters, no table rewrite committed here."""
    snap = snapshot(root)
    from pyspark.sql.types import StructType

    names = {f.name for f in StructType.fromJson(json.loads(snap.schema_json)).fields}
    new = [] if cols is None else ([cols] if isinstance(cols, str) else list(cols))
    missing = [c for c in new if c not in names]
    if missing:
        raise ValueError(f"cluster columns {missing} not in schema (have {sorted(names)})")
    if len(new) > 2:
        raise ValueError(
            "at most two clustering keys (two interleave as a Z-order; "
            "more would need a space-filling curve of higher arity)"
        )
    return _commit_pinned(
        root, snap.version, "set_cluster", [], snap.schema_json,
        "set cluster", extra={"cluster": new},
    )


def _partition_scope(spark: SparkSession, snap: Snapshot, where: str) -> list[int]:
    """Indices of snapshot files whose PARTITION TUPLE satisfies ``where``
    — evaluated EXACTLY (full SQL semantics over typed casts of the
    tuple values), never approximated by stats pruning: a maintenance
    rewrite's remove-set must equal its read-set or rows in a
    conservatively-kept file would be silently lost, so may-match
    pruning is unusable here.  The predicate may reference partition
    columns ONLY — any other name fails Spark analysis loudly, which is
    the validation.  The evaluated relation is metadata-sized: one row
    per DISTINCT partition tuple, not per file."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    pcols = list(snap.partition_cols)
    if not pcols:
        raise ValueError(
            "where-scoped compaction requires a PARTITIONED table "
            "(the scope predicate selects whole partitions)"
        )
    pvs: list[tuple] = []
    for i, st in enumerate(snap.file_stats):
        pv = st.get(_PV_KEY)
        if pv is None:
            raise ValueError(
                f"file {snap.files[i]} carries no partition tuple in the log"
            )
        pvs.append(
            tuple(None if pv.get(c) is None else str(pv.get(c)) for c in pcols)
        )
    schema = StructType.fromJson(json.loads(snap.schema_json))
    type_of = {f.name: f.dataType.simpleString() for f in schema.fields}
    distinct = sorted(set(pvs), key=lambda t: tuple((v is None, v) for v in t))
    ddl = ", ".join(["__tidx int"] + [f"__raw_{c} string" for c in pcols])
    tup_df = values_relation(
        spark, [(idx, *t) for idx, t in enumerate(distinct)], ddl
    ).select(
        "__tidx",
        *[
            F.col(f"__raw_{c}").cast(type_of.get(c, "string")).alias(c)
            for c in pcols
        ],
    )
    matched = {
        distinct[r[0]]  # Row attr access rejects dunder names; index instead
        for r in tup_df.filter(F.expr(where)).select("__tidx").collect()
    }
    return [i for i, t in enumerate(pvs) if t in matched]


def compact_txn(
    spark: SparkSession,
    root: str,
    target_files: int = 8,
    cluster_by: list[str] | None = None,
    zorder: bool = False,
    where: str | None = None,
) -> int:
    """Rewrite the current snapshot's files into ``target_files`` larger
    ones (small-file compaction — the routine maintenance op at scale
    where streaming appends produce many tiny files).  The commit removes
    the old files and adds the new in ONE atomic entry, so concurrent
    readers see either generation, never a mix.  Raises TxnConflict if a
    writer slips in between the snapshot and the commit (the remove-set
    would be stale).

    ``cluster_by`` turns the rewrite into a CLUSTERING compaction
    (Delta's OPTIMIZE ... ZORDER class of maintenance): rows range-
    partition on the given columns so each output file covers a tight
    key interval, which is exactly what makes the log's min/max stats
    prune (see read_txn's ``prune`` and txn_demo's repartitionByRange
    lesson — hash placement gives every file the full key range and
    nothing ever skips).

    ``zorder=True`` with exactly two cluster columns is a genuine
    Z-ORDER rewrite (Delta's OPTIMIZE ... ZORDER BY): each column
    quantizes to 256 equal-count buckets via approx-quantile boundaries
    embedded as LITERALS (the house quantile_bucket pattern — skew-proof,
    branch-consistent), the bucket ids bit-interleave into one Morton key
    (operators/analytics._morton_expr), and rows range-partition on it —
    every output file then covers a tight RECTANGLE in (a, b) space, so
    the log's min/max stats prune on EITHER dimension, not just the
    leading one (lexicographic range clustering prunes only on the first
    column).

    On a PARTITIONED table the rewrite is partition-ALIGNED by
    construction (staging splits by partition tuple), so ``target_files``
    is a per-Spark-partition pre-split and the output file count is at
    least the live partition count — Delta's OPTIMIZE has the same floor,
    because a data file can never span two partitions.

    ``where`` SCOPES the rewrite to whole partitions (Delta's
    ``OPTIMIZE tbl WHERE <partition predicate>``): only files whose
    partition tuple satisfies the predicate (evaluated exactly — see
    :func:`_partition_scope`) are read, rewritten and removed; every
    other file is untouched bytes AND untouched metadata.  This is the
    only maintenance shape that survives 100 TB — a full rewrite of a
    petabyte table to adopt new clustering is not a plan, but
    partition-at-a-time re-clustering amortized over routine maintenance
    is, and it is exactly how liquid clustering rolls out new keys: each
    subsequently-compacted partition adopts the CURRENT declared keys
    while unmaintained partitions keep their old layout, correct
    throughout because pruning derives from per-file stats, not from a
    table-level layout assumption.  A scoped rewrite never clears drop
    tombstones or the rename chain (untouched files may still need
    them).  An empty scope is a no-op returning the current version."""
    snap = snapshot(root)
    if where is not None:
        from pyspark.sql.types import StructType

        scope = _partition_scope(spark, snap, where)
        if not scope:
            return snap.version
        want = StructType.fromJson(json.loads(snap.schema_json))
        df = _scan_files(
            spark,
            [_snap_item(snap, i) for i in scope],
            want,
            root=root,
            renames=snap.renames,
        )
        removed_paths = [snap.files[i] for i in scope]
    else:
        df = read_txn(spark, root)
        removed_paths = list(snap.files)
    if cluster_by is None and snap.cluster_by:
        # the declared clustering keys (set_cluster_txn) drive routine
        # compaction: two keys interleave as a Z-order, one range-clusters
        cluster_by = list(snap.cluster_by)
        zorder = zorder or len(cluster_by) == 2
    if cluster_by and zorder:
        if len(cluster_by) != 2:
            raise ValueError("zorder interleaves exactly two cluster columns")
        from ..operators.analytics import _morton_expr
        from ..operators.twophase import _bucket_by_boundaries

        a, b = cluster_by
        # both columns' quantile boundaries from ONE aggregation job
        # (quantile_bucket per column = one full-scan job each; the two
        # sketches are independent aggregates, so sharing the scan cannot
        # change either — guide §1.2, don't read the input twice for two
        # reductions).  Boundary semantics identical to quantile_bucket
        # (same percentiles list, same accuracy, same empty-input rule).
        pcts = [i / 256.0 for i in range(1, 256)]
        qrow = df.agg(
            F_percentile_approx(a, pcts, 10000).alias("__qa"),
            F_percentile_approx(b, pcts, 10000).alias("__qb"),
        ).first()
        qa = list(qrow[0]) if qrow is not None and qrow[0] is not None else []
        qb = list(qrow[1]) if qrow is not None and qrow[1] is not None else []
        df = _bucket_by_boundaries(df, a, qa, out="__za")
        df = _bucket_by_boundaries(df, b, qb, out="__zb")
        z = _morton_expr("CAST(__za AS INT)", "CAST(__zb AS INT)", bits=8)
        df = (
            df.withColumn("__z", z)
            .repartitionByRange(target_files, F_col("__z"))
            .drop("__za", "__zb", "__z")
        )
    elif cluster_by:
        df = df.repartitionByRange(target_files, *[F_col(c) for c in cluster_by])
    else:
        df = df.coalesce(target_files)
    rels, schema_json, stats = _stage_files(
        df, root, snap.bloom_spec, snap.ndv_spec
    )
    return _commit_commuting_rewrite(
        root,
        snap,
        removed=[os.path.relpath(p, root) for p in removed_paths],
        adds=[{"add": r, "stats": stats[r], "schema": schema_json} for r in rels],
        # mode stays "compact" for the scoped form too: the CDF planner's
        # pass-through rule keys on mode, and a scoped rewrite is equally
        # row-preserving; the scope predicate rides as an inert audit key.
        what="compact",
        schema_json=schema_json,
        # a FULL rewrite purges DROPped columns physically and writes
        # every row under the CURRENT logical names (the rewrite read the
        # logical schema), so drop tombstones AND the rename chain clear.
        # A SCOPED rewrite clears neither: untouched files still carry
        # physical names / dropped bytes and need the chain to resolve.
        extra=(
            (
                {
                    **({"dropped": []} if snap.dropped else {}),
                    **({"renames": []} if snap.renames else {}),
                }
                if (snap.dropped or snap.renames)
                else None
            )
            if where is None
            else {"scope": where}
        ),
    )


def _merge_schemas(a_json: str, b_json: str) -> str:
    """Reconcile two commit schemas by name: shared fields keep the first
    schema's type and OR their nullability; fields present on only one
    side become NULLABLE (some live files provably lack them).  Used by
    maintenance rewrites so their entry schema can absorb an interleaved
    evolved append without regressing either side's nullability."""
    from pyspark.sql.types import StructField, StructType

    a = StructType.fromJson(json.loads(a_json))
    b = StructType.fromJson(json.loads(b_json))
    fields: dict[str, StructField] = {}
    order: list[str] = []
    for f in list(a.fields) + list(b.fields):
        if f.name in fields:
            g = fields[f.name]
            fields[f.name] = StructField(g.name, g.dataType, g.nullable or f.nullable)
        else:
            fields[f.name] = f
            order.append(f.name)
    a_names = {f.name for f in a.fields}
    b_names = {f.name for f in b.fields}
    for n in order:
        if n not in a_names or n not in b_names:
            g = fields[n]
            fields[n] = StructField(g.name, g.dataType, True)
    return StructType([fields[n] for n in order]).json()


def _commit_commuting_rewrite(
    root: str,
    base_snap: Snapshot,
    removed: list[str],
    adds: list[dict],
    what: str,
    schema_json: str,
    max_retries: int = 20,
    extra: dict | None = None,
) -> int:
    """Commit a MAINTENANCE rewrite (compaction / optimize) with Delta's
    disjoint-file-set conflict rule: a rewrite only moves bytes between
    files whose ROWS it read, so a concurrent commit invalidates it ONLY
    if it touched those input files — removed one (overwrite / another
    rewrite) or tombstoned rows in one (a DV landing after the rewrite
    read them would be silently lost).  Blind appends, schema evolution,
    and metadata commits COMMUTE: the rewrite retries at the new head,
    keeping the interloper's files live.  Each ``add`` action carries the
    rewrite's own schema; the entry carries ``schema_json`` merged (by
    name, nullability OR'd, one-sided fields nullable) with the head's
    schema on every retry — an interleaved evolved append is never
    regressed, and a stale non-nullable field never tightens the table
    schema (the streaming source declares the table schema to Arrow, so a
    nullability regression is a task-killing NPE, not cosmetic).

    Only ADDITIVE schema evolution commutes.  Any other concurrent
    METADATA change — DROP COLUMN, a constraint change, a base field's
    type changing — raises TxnConflict (Delta conflicts rewrites on every
    metadata change): the rewrite's output files physically carry the
    base schema's values, so re-merging e.g. a concurrently-DROPped
    column back into the entry schema would resurrect its data through
    name-mapped reads — the exact hazard the drop tombstone exists to
    prevent (ADVICE r9 medium)."""
    dv_at_base = {
        os.path.relpath(p, root): dvs
        for p, dvs in zip(base_snap.files, base_snap.file_dvs)
    }
    base_fields = {
        f["name"]: json.dumps(f["type"], sort_keys=True)
        for f in json.loads(base_snap.schema_json)["fields"]
    }
    cur_version, entry_schema = base_snap.version, schema_json
    for _ in range(max_retries):
        actions = [{"remove": r} for r in removed] + adds
        entry = _build_entry(what, cur_version + 1, actions, entry_schema, extra)
        if _try_commit(root, cur_version + 1, entry):
            _maybe_checkpoint(root, cur_version + 1)
            return cur_version + 1
        snap = snapshot(root)
        if (
            snap.constraints != base_snap.constraints
            or snap.dropped != base_snap.dropped
        ):
            raise TxnConflict(
                f"{what} of {root} conflicts: a concurrent commit changed "
                "table metadata (constraints or dropped columns); metadata "
                "changes do not commute with maintenance rewrites"
            )
        head_fields = {
            f["name"]: json.dumps(f["type"], sort_keys=True)
            for f in json.loads(snap.schema_json)["fields"]
        }
        non_additive = [
            n for n, t in base_fields.items() if head_fields.get(n) != t
        ]
        if non_additive:
            raise TxnConflict(
                f"{what} of {root} conflicts: concurrent schema change on "
                f"base columns {sorted(non_additive)} is not additive "
                "evolution; only column additions commute with rewrites"
            )
        live = {
            os.path.relpath(p, root): dvs
            for p, dvs in zip(snap.files, snap.file_dvs)
        }
        for r in removed:
            if r not in live or live[r] != dv_at_base.get(r):
                raise TxnConflict(
                    f"{what} of {root} conflicts: input file {r} was "
                    "removed or tombstoned by a concurrent commit"
                )
        cur_version = snap.version
        entry_schema = _merge_schemas(schema_json, snap.schema_json)
    raise TxnConflict(f"{what} of {root} exhausted {max_retries} retries")


def optimize_txn(
    spark: SparkSession,
    root: str,
    small_than: int = 32 << 20,
    target_bytes: int = 128 << 20,
) -> int:
    """Bin-packed small-file compaction (Delta's OPTIMIZE): rewrite ONLY
    the live files smaller than ``small_than`` bytes into ~``target_bytes``
    outputs, leaving every right-sized file UNTOUCHED — the routine
    maintenance op where streaming appends have produced thousands of tiny
    files.  ``compact_txn`` rewrites the whole table (correct for
    re-clustering); at 100 TB the small-file sweep must not.  File sizes
    come from the log (``__bytes`` rides every add action's stats), so
    planning reads zero objects; pre-``__bytes`` history falls back to one
    stat call per file.  Input files' deletion vectors materialize away
    (the rewrite reads the DV-applied view); other files' DVs are
    untouched.  Commits with the commuting-rewrite rule: concurrent blind
    appends retry, not conflict.  Returns the current version when fewer
    than two small files exist (nothing to pack)."""
    from pyspark.sql.types import StructType

    snap = snapshot(root)
    small: list[int] = []
    total = 0
    for i, (p, st) in enumerate(zip(snap.files, snap.file_stats)):
        b = st.get("__bytes")
        if b is None:
            try:
                b = os.path.getsize(p)
            except OSError:
                continue
        if b < small_than:
            small.append(i)
            total += b
    if len(small) < 2:
        return snap.version
    want = StructType.fromJson(json.loads(snap.schema_json))
    items = [_snap_item(snap, i) for i in small]
    n_out = max(1, (total + target_bytes - 1) // target_bytes)
    df = _scan_files(
        spark, items, want, root=root, renames=snap.renames
    ).coalesce(int(n_out))
    rels, schema_json, stats = _stage_files(
        df, root, snap.bloom_spec, snap.ndv_spec
    )
    return _commit_commuting_rewrite(
        root,
        snap,
        removed=[os.path.relpath(snap.files[i], root) for i in small],
        adds=[{"add": r, "stats": stats[r], "schema": schema_json} for r in rels],
        what="optimize",
        schema_json=_merge_schemas(schema_json, snap.schema_json),
    )


def _changes_plan(
    root: str, versions: list[int], from_version: int, to_version: int
) -> list[dict]:
    """The change-data-feed read PLAN for versions ``(from_version,
    to_version]`` — pure log arithmetic, no data I/O.  Each item is one
    file-grained change unit:

    - ``{"change": "insert", "v", "rel", "schema", "dvs"}`` — the file's
      rows (minus the listed tombstone sidecars) were inserted at v.
      ``dvs`` is non-empty only when the SAME entry both added the file
      and applied tombstones (RESTORE reinstating a chain, a shallow
      clone referencing tombstoned source files).
    - ``{"change": "delete", ...}`` — same shape; the file's surviving
      rows (minus ``dvs``, the tombstones already applied BEFORE v, whose
      deletes were reported at their own commits) were deleted at v.
    - ``{"change": "delete_at", "v", "rel", "schema", "dv"}`` — exactly
      the rows at the NEW tombstone positions in sidecar ``dv`` were
      deleted at v.

    Shared by the batch reader (``read_txn_changes``) and the streaming
    CDF source (``txn_stream``), so the two can never drift."""
    want = [v for v in versions if from_version < v <= to_version]
    plan: list[dict] = []
    prior_map: dict[str, tuple[str, tuple[str, ...]]] | None = None
    for v in want:
        e = _read_entry(root, v)
        if e.get("mode") in ("compact", "optimize", "set_bloom"):
            # pass-through rewrites (compaction / small-file optimize) and
            # stats-only re-adds (bloom backfill) change no rows — not
            # data changes.  NOTE optimize folds its inputs' DELETION
            # VECTORS away physically, but those deletes were reported at
            # the DV commit itself, so skipping here never loses a change.
            prior_map = None  # file set / stats changed; recompute lazily
            continue
        has_removes = any("remove" in a or "dv" in a for a in e["actions"])
        if has_removes and prior_map is None:
            # a removed file's rows read with the schema of the commit
            # that ADDED it (and exclude rows already tombstoned by earlier
            # deletion vectors — those were reported deleted at THEIR
            # commit); the log no longer carries that mapping after the
            # remove, so fold up to v-1 to recover it — ONCE per commit
            # (checkpoint-accelerated), not once per removed file
            prior = _fold(root, [x for x in versions if x < v])
            prior_map = {
                os.path.relpath(p, root): (s, dvs, st.get(_PV_KEY))
                for p, s, st, dvs in zip(
                    prior.files, prior.file_schemas, prior.file_stats,
                    prior.file_dvs,
                )
            }
        # dv actions that apply to files ADDED in this same entry (RESTORE
        # reinstating a DV chain, a shallow clone referencing tombstoned
        # source files): the committed snapshot never contained those
        # positions, so the add's insert rows must exclude them
        entry_dvs: dict[str, tuple] = {}
        for a2 in e["actions"]:
            if "dv" in a2:
                for f2 in a2["applies"]:
                    entry_dvs[f2] = entry_dvs.get(f2, ()) + (a2["dv"],)
        for a in e["actions"]:
            if "dv" in a:
                # a deletion-vector commit's deletes are EXACTLY the rows
                # at the new tombstone positions (positions are computed
                # over the DV-applied view, so never double-reported)
                for rel in a["applies"]:
                    ent = prior_map.get(rel) if prior_map else None
                    if ent is None:
                        continue  # applied to a file added this entry
                    plan.append({
                        "change": "delete_at", "v": v, "rel": rel,
                        "schema": ent[0], "dv": a["dv"], "pv": ent[2],
                    })
                continue
            rel = a.get("add") or a.get("remove")
            if rel is None:
                continue
            if "add" in a:
                plan.append({
                    "change": "insert", "v": v, "rel": rel,
                    # RESTORE re-adds carry the file's original schema
                    "schema": a.get("schema", e["schema"]),
                    "dvs": list(entry_dvs.get(rel, ())),
                    "pv": (a.get("stats") or {}).get(_PV_KEY),
                })
            else:
                ent = prior_map.get(rel) if prior_map else None
                if ent is None:
                    continue  # removed file never visible in a snapshot
                plan.append({
                    "change": "delete", "v": v, "rel": rel,
                    "schema": ent[0], "dvs": list(ent[1]), "pv": ent[2],
                })
        if prior_map is not None:
            # roll the prior-live map forward past this commit so the next
            # version's delete lookups see v's own adds/removes/tombstones
            for a in e["actions"]:
                if "add" in a:
                    prior_map[a["add"]] = (
                        a.get("schema", e["schema"]), (),
                        (a.get("stats") or {}).get(_PV_KEY),
                    )
                elif "remove" in a:
                    prior_map.pop(a["remove"], None)
            for a in e["actions"]:
                # dv actions roll AFTER adds: a RESTORE commit re-applies
                # tombstones to files it re-added in the same entry
                if "dv" in a:
                    for f in a["applies"]:
                        if f in prior_map:
                            s, dvs, pv = prior_map[f]
                            prior_map[f] = (s, dvs + (a["dv"],), pv)
    return plan


def _cdf_horizon_check(root: str, versions: list[int], from_version: int,
                       to_version: int | None) -> None:
    if versions and from_version < versions[0] - 1 and (
        to_version is None or to_version >= versions[0]
    ):
        # entries below the log-retention horizon (cleanup_log_txn) are
        # gone; silently yielding "no changes" for them would desync every
        # incremental consumer — the same reason Delta fails CDF reads
        # past its log retention
        raise ValueError(
            f"change feed from version {from_version} crosses the "
            f"log-retention horizon of {root} (earliest retained entry: "
            f"{versions[0]}); re-seed the consumer from a full snapshot"
        )


def read_txn_changes(
    spark: SparkSession, root: str, from_version: int, to_version: int | None = None
) -> DataFrame:
    """Change data feed: row-level changes committed in versions
    ``(from_version, to_version]``, each row tagged ``_change_type``
    ('insert' | 'delete') and ``_commit_version`` — the incremental-
    processing hook (downstream re-embeds / re-dedups ONLY what changed
    since its last sync, instead of re-reading 100 TB).

    Derivation is pure log arithmetic, no stored diff: an ``add`` action's
    file holds that commit's inserted rows; a ``remove`` action's file
    holds rows deleted at that commit (the file is immutable, so its
    content IS what was live).  A compaction commit removes and re-adds
    identical row sets — callers that want logical changes only should
    skip entries with mode 'compact', which this reader does by default
    (pass-through rewrites are not data changes).

    Vacuum caveat (same as Delta's CDF-from-files): reading changes older
    than the vacuum retention fails at scan time because the removed
    files are gone — size ``retain_versions`` to cover the slowest
    consumer's sync interval."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    versions = _list_versions(root)
    _cdf_horizon_check(root, versions, from_version, to_version)
    if to_version is None:
        to_version = versions[-1] if versions else -1
    plan = _changes_plan(root, versions, from_version, to_version)
    parts = []
    if plan:
        # change rows surface under the CURRENT logical column names and
        # with partition columns REATTACHED (they are metadata-resident on
        # partitioned tables; reading the bytes alone would NULL them)
        _renames = snapshot(root, version=to_version).renames

        def _attach_pv(df, pv, sj):
            if not pv:
                return df
            types = {
                f.name: f.dataType
                for f in StructType.fromJson(json.loads(sj)).fields
            }
            for c, raw in pv.items():
                df = df.withColumn(
                    c, F.lit(raw).cast("string").cast(types.get(c, "string"))
                )
            return df

        def _apply_chain(df):
            for phys, logical in _renames:
                if phys in df.columns and logical not in df.columns:
                    df = df.withColumnRenamed(phys, logical)
            return df

        def _file_df(rel, sj, dvs, keep_tombstoned=False, pv=None):
            df = _attach_pv(
                spark.read.schema(
                    StructType.fromJson(json.loads(sj))
                ).parquet(os.path.join(root, rel)),
                pv, sj,
            )
            if dvs and not keep_tombstoned:
                df = df.select(
                    "*",
                    F.element_at(
                        F.split(F.col("_metadata.file_path"), "/"), -1
                    ).alias("__f"),
                    F.col("_metadata.row_index").alias("__p"),
                )
                dv_df = spark.read.parquet(
                    *[os.path.join(root, d) for d in sorted(dvs)]
                )
                df = df.join(
                    F.broadcast(dv_df),
                    (F.col("__f") == dv_df["file"]) & (F.col("__p") == dv_df["pos"]),
                    "left_anti",
                ).drop("__f", "__p")
            return _apply_chain(df)

        for item in plan:
            v = item["v"]
            if item["change"] == "delete_at":
                dv_df = spark.read.parquet(os.path.join(root, item["dv"]))
                df = _attach_pv(
                    spark.read.schema(
                        StructType.fromJson(json.loads(item["schema"]))
                    ).parquet(os.path.join(root, item["rel"])),
                    item.get("pv"), item["schema"],
                ).select(
                    "*",
                    F.element_at(
                        F.split(F.col("_metadata.file_path"), "/"), -1
                    ).alias("__f"),
                    F.col("_metadata.row_index").alias("__p"),
                )
                df = df.join(
                    F.broadcast(dv_df),
                    (F.col("__f") == dv_df["file"])
                    & (F.col("__p") == dv_df["pos"]),
                    "left_semi",
                ).drop("__f", "__p")
                df = _apply_chain(df)
                parts.append(
                    df.withColumn("_change_type", F.lit("delete")).withColumn(
                        "_commit_version", F.lit(v).cast("bigint")
                    )
                )
                continue
            parts.append(
                _file_df(
                    item["rel"], item["schema"], item["dvs"],
                    pv=item.get("pv"),
                ).withColumn(
                    "_change_type", F.lit(item["change"])
                ).withColumn("_commit_version", F.lit(v).cast("bigint"))
            )
    if not parts:
        snap_schema = StructType.fromJson(
            json.loads(snapshot(root).schema_json)
        ) if versions else StructType([])
        empty = spark.createDataFrame([], snap_schema)
        return empty.withColumn("_change_type", F.lit("insert")).withColumn(
            "_commit_version", F.lit(0).cast("bigint")
        ).limit(0)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def table_history(spark: SparkSession, root: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per commit, newest first — version, mode,
    commit timestamp, file/byte deltas (bytes from the log's ``__bytes``
    stats where recorded), required reader features, and the
    idempotence/lineage tags (streaming batch id, app transaction, MV
    source watermark).  Pure log arithmetic: no data file is opened, so
    the audit costs the same on 100 TB as on 100 KB."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType, TimestampType,
    )
    import datetime as _dt

    rows = []
    for v in _list_versions(root):
        e = _read_entry(root, v)
        adds = [a for a in e["actions"] if "add" in a]
        rows.append(
            (
                v,
                e.get("mode"),
                _dt.datetime.fromtimestamp(
                    e["ts_ms"] / 1000.0, tz=_dt.timezone.utc
                ).replace(tzinfo=None),
                len(adds),
                sum(1 for a in e["actions"] if "remove" in a),
                sum(1 for a in e["actions"] if "dv" in a),
                sum(
                    a.get("stats", {}).get("__bytes", 0) for a in adds
                ),
                ",".join(e.get("require", [])) or None,
                str(e["batch_id"]) if "batch_id" in e else None,
                f"{e['app_txn'][0]}@{e['app_txn'][1]}" if "app_txn" in e else None,
                int(e["mv_source_version"]) if "mv_source_version" in e else None,
            )
        )
    schema = StructType(
        [
            StructField("version", LongType(), False),
            StructField("mode", StringType(), True),
            StructField("committed_at", TimestampType(), True),
            StructField("n_added_files", LongType(), False),
            StructField("n_removed_files", LongType(), False),
            StructField("n_dv_files", LongType(), False),
            StructField("bytes_added", LongType(), False),
            StructField("require", StringType(), True),
            StructField("batch_id", StringType(), True),
            StructField("app_txn", StringType(), True),
            StructField("mv_source_version", LongType(), True),
        ]
    )
    return values_relation(
        spark,
        sorted(rows, key=lambda r: -r[0]),
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields),
    )


def last_app_version(root: str, app_id: str):
    """The highest application-transaction version committed for
    ``app_id`` (None if never) — Delta's ``txnAppId/txnVersion``
    idempotence bookkeeping for BATCH writers: an orchestrator re-running
    a failed step passes the same (app_id, version) to ``write_txn`` and
    the duplicate apply is skipped.  Reads the latest checkpoint's folded
    watermark map plus the entries behind it — O(_CHECKPOINT_EVERY) per
    call, no data files touched."""
    versions = _list_versions(root)
    if not versions:
        return None
    ckpt = _latest_checkpoint(root, versions[-1])
    best = None
    if ckpt and app_id in ckpt.get("app_txns", {}):
        best = int(ckpt["app_txns"][app_id])
    start = ckpt["version"] + 1 if ckpt else 0
    for v in versions:
        if v < start:
            continue
        e = _read_entry(root, v)
        if "app_txn" in e and e["app_txn"][0] == app_id:
            ver = int(e["app_txn"][1])
            best = ver if best is None else max(best, ver)
    return best


def committed_batch_ids(root: str) -> set:
    """Micro-batch ids recorded by prior streaming commits (exactly-once
    bookkeeping).  Reads the latest checkpoint's folded id set plus the
    entries behind it — O(_CHECKPOINT_EVERY) per call however long the
    stream has run; never touches data files."""
    versions = _list_versions(root)
    if not versions:
        return set()
    ckpt = _latest_checkpoint(root, versions[-1])
    out = set(ckpt.get("batch_ids", [])) if ckpt else set()
    start = ckpt["version"] + 1 if ckpt else 0
    for v in versions:
        if v < start:
            continue
        e = _read_entry(root, v)
        if "batch_id" in e:
            out.add(e["batch_id"])
    return out


def txn_stream_sink(root: str):
    """A ``foreachBatch`` function giving EXACTLY-ONCE appends into a
    transaction-logged table: Structured Streaming replays a micro-batch
    after a failure with the SAME batch_id, and a batch whose id is
    already in the log commits nothing.  The idempotency check and the
    commit are not atomic w.r.t. OTHER streams — one stream per table is
    the supported topology (same as the engine's foreachBatch parquet
    upsert); concurrent BATCH appends remain safe (they carry no
    batch_id and commute by OCC retry).

    Usage::

        q = (df.writeStream.foreachBatch(txn_stream_sink(root))
               .option("checkpointLocation", ckpt).start())
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in committed_batch_ids(root):
            return
        write_txn(batch_df, root, mode="append", extra={"batch_id": batch_id})

    return sink


def vacuum_txn(
    root: str, retain_versions: int = 2, min_age_sec: float = 3600.0,
    dry_run: bool = False,
) -> list[str]:
    """Delete data files unreferenced by the last ``retain_versions``
    snapshots (plus staging leftovers).  The retention floor is what
    makes snapshot isolation safe: a reader holding any retained version
    still finds every file of its snapshot on disk.

    ``min_age_sec`` is the WRITER-safety floor (the reason Delta vacuums
    by retention *period*): an in-flight writer's staged data files are
    already under ``root`` before its commit publishes them, and an
    unreferenced-file sweep with no age guard would delete them out from
    under the commit — silent data loss, not a crash.  A file is only
    garbage once it is BOTH unreferenced and older than any plausible
    in-flight write.  Tests pass 0 explicitly; production keeps a floor
    comfortably above the longest commit duration.

    ``dry_run=True`` (Delta's VACUUM DRY RUN) returns exactly what a
    real run would remove — same walk, same guards, zero deletions —
    so an operator can inspect the blast radius before shrinking
    retention on a table other readers may be time-traveling."""
    versions = _list_versions(root)
    if not versions:
        return []
    keep: set[str] = set()
    retained = versions[-retain_versions:] if retain_versions > 0 else versions[-1:]
    for v in retained:
        snap_v = _fold(root, [x for x in versions if x <= v])
        keep.update(os.path.relpath(p, root) for p in snap_v.files)
        for dvs in snap_v.file_dvs:  # tombstone sidecars live as long as
            keep.update(dvs)         # any retained snapshot references them
        for st in snap_v.file_stats:  # bloom sidecars: same lifecycle
            ref = _bloom_sidecar_ref(st)
            if ref is not None:
                keep.add(ref)
    now = time.time()
    removed = []
    # a crashed writer's torn commit tmp (write-then-link protocol) is
    # invisible to readers but worth sweeping once safely old
    d = _log_dir(root)
    for f in os.listdir(d) if os.path.isdir(d) else ():
        if f.endswith(".tmp"):
            p = os.path.join(d, f)
            try:
                if now - os.path.getmtime(p) >= min_age_sec:
                    if not dry_run:
                        os.unlink(p)
                    removed.append(os.path.join(_LOG_DIR, f))
            except OSError:
                continue
    for f in os.listdir(root):
        if f == _LOG_DIR:
            continue
        p = os.path.join(root, f)
        try:
            age = now - os.path.getmtime(p)
        except OSError:
            continue
        if age < min_age_sec:
            continue
        if f.startswith("_staging_"):
            if not dry_run:
                import shutil

                shutil.rmtree(p, ignore_errors=True)
            removed.append(f)
        elif f.endswith(".parquet") and f not in keep:
            if not dry_run:
                os.unlink(p)
            removed.append(f)
        elif (
            f.startswith(_BLOOM_SIDECAR_PREFIX)
            and f.endswith(".json")
            and f not in keep
        ):
            if not dry_run:
                os.unlink(p)
            removed.append(f)
    return removed


def cleanup_log_txn(
    root: str, retain_versions: int = 64, dry_run: bool = False
) -> list[str]:
    """Delete commit entries a checkpoint has SUPERSEDED (Delta's
    ``logRetentionDuration`` cleanup, version-count form): a streaming
    writer at one commit a minute writes half a million entries a year,
    and ``_list_versions`` walks the whole directory — without cleanup
    the log itself becomes the unbounded-LIST problem its design exists
    to avoid.

    Keeps every entry at or above ``C``, the LATEST checkpoint version at
    most ``head - retain_versions``, and every checkpoint at or above
    ``C``.  After cleanup every snapshot/time-travel at version >= C
    still folds EXACTLY (checkpoint C + retained entries — checkpoints
    also carry the cumulative batch-id / app-txn watermarks, so
    exactly-once replay checks survive); versions below C raise the
    standard "not in log" ValueError, CDF reads crossing the horizon
    raise (``read_txn_changes``), and a lagging stream restart fails
    loudly instead of silently skipping cleaned commits
    (``txn_stream``).  No-op (returns []) until a checkpoint old enough
    to anchor the horizon exists.  ``dry_run`` reports without deleting."""
    versions = _list_versions(root)
    if not versions:
        return []
    horizon = versions[-1] - retain_versions
    d = _log_dir(root)
    ckpts = sorted(
        int(f[len("checkpoint-"):-5])
        for f in os.listdir(d)
        if f.startswith("checkpoint-") and f.endswith(".json")
    )
    eligible = [c for c in ckpts if c <= horizon]
    if not eligible:
        return []
    anchor = max(eligible)
    removed = []
    for v in versions:
        if v < anchor:
            if not dry_run:
                os.unlink(_entry_path(root, v))
            removed.append(os.path.join(_LOG_DIR, f"{v:0{_VERSION_DIGITS}d}.json"))
    for c in ckpts:
        if c < anchor:
            if not dry_run:
                os.unlink(_ckpt_path(root, c))
            removed.append(
                os.path.join(_LOG_DIR, f"checkpoint-{c:0{_VERSION_DIGITS}d}.json")
            )
    return removed


def clone_txn(
    src_root: str,
    dst_root: str,
    version: int | None = None,
    as_of_ms: int | None = None,
) -> int:
    """SHALLOW CLONE (Delta's ``CREATE TABLE ... SHALLOW CLONE``): create
    a new transaction-logged table whose version-0 commit REFERENCES the
    source snapshot's data files — and their deletion-vector / Bloom
    sidecars — by relative traversal paths, copying ZERO data bytes.  At
    100 TB this is how a dev/test fork, a what-if backfill, or a
    migration rehearsal starts in milliseconds instead of a day of
    copying.

    The clone is a full table from commit 0 on: appends/MERGE/DELETE land
    new files under the CLONE's root; an overwrite or full compaction
    drops every source reference and makes the clone self-contained; the
    source is never written.  Table metadata (constraints, bloom spec,
    drop tombstones) carries over, and the entry records its lineage
    under ``clone_of``.

    Delta-parity caveat: VACUUMING THE SOURCE can delete files a shallow
    clone still references (the clone's vacuum never touches them — it
    sweeps only its own directory).  Clone from a version the source's
    vacuum retention protects, or compact the clone to self-contain it."""
    if _list_versions(dst_root):
        raise ValueError(f"clone destination {dst_root} is already a table")
    snap = snapshot(src_root, version=version, as_of_ms=as_of_ms)
    os.makedirs(dst_root, exist_ok=True)

    def _reref(rel_to_src: str) -> str:
        return os.path.relpath(os.path.join(src_root, rel_to_src), dst_root)

    actions: list[dict] = []
    dv_applies: dict[str, list[str]] = {}
    for p, sj, st, dvs in zip(
        snap.files, snap.file_schemas, snap.file_stats, snap.file_dvs
    ):
        rel = os.path.relpath(p, dst_root)
        st2 = dict(st)
        bl = st.get(_BLOOM_KEY)
        if bl and "sidecar" in bl:
            st2[_BLOOM_KEY] = {**bl, "sidecar": _reref(bl["sidecar"])}
        actions.append({"add": rel, "stats": st2, "schema": sj})
        for d in dvs:
            dv_applies.setdefault(_reref(d), []).append(rel)
    actions += [
        {"dv": d, "applies": sorted(rels)} for d, rels in sorted(dv_applies.items())
    ]
    extra: dict = {
        "clone_of": {"root": os.path.abspath(src_root), "version": snap.version},
    }
    if snap.constraints:
        extra["constraints"] = dict(snap.constraints)
    if snap.bloom_spec:
        extra["bloom"] = {c: [m, k] for c, m, k in snap.bloom_spec}
    if snap.dropped:
        extra["dropped"] = list(snap.dropped)
    if snap.generated:
        extra["generated"] = dict(snap.generated)
    if snap.ndv_spec:
        extra["ndv"] = {c: k for c, k in snap.ndv_spec}
    if snap.partition_cols:
        # the clone stays partitioned: per-file partition tuples already
        # ride the copied stats; the spec itself must carry over too
        extra["partition"] = list(snap.partition_cols)
    if snap.renames:
        # referenced source files keep physical names: the chain rides
        extra["renames"] = [list(r) for r in snap.renames]
    if snap.identity_spec:
        extra["identity"] = {
            c: [st, sp, nx, list(ob)]
            for c, st, sp, nx, ob in snap.identity_spec
        }
    if snap.cluster_by:
        extra["cluster"] = list(snap.cluster_by)
    return _commit_pinned(
        dst_root, -1, "clone", actions, snap.schema_json, "clone", extra=extra
    )
