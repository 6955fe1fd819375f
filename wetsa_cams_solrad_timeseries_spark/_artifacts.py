"""Session-scoped artifact lifecycle: the one generation kernel behind
every persisted index and replay layout.

Two families of queries materialize process-unique helper artifacts
once per run and reuse them on every later call:

- **warehouse generations** (:func:`table_generation`): managed tables
  under the session warehouse — q81's bucketed fact tables, the
  cross-run index tables (q193/q197/q201/q207/q210/q217/q227/q238/q245)
  and the delete lifecycle's index + tombstone tables (q253–q271);
  their frozen parameters (PQ books, OPQ rotations, IVF-SQ8 coarse/
  vmin/step, graph centroids/medoids) go through :func:`save_params`
  / :func:`load_params`;
- **tmp generations** (:func:`tmp_generation`): directories under
  ``tempfile.gettempdir()`` — the multi-file split replays
  (``_split_events`` and its twins, ``chrono_split``), q91's
  hive-partitioned events copy, q117's JSON copy and q185's z-ordered
  layout.

Every artifact name carries the one process token :data:`TOKEN` (the
family prefix keeps generations of different artifacts apart). The
token, not the pid, fixes the stale-pid-reuse bug, but on its own every
run leaves a full generation of files behind, so repeated harness rounds
grow /tmp and the warehouse without bound.

Lifecycle rule implemented here, at the moment a generation is created:

1. **sweep**: remove every PRIOR generation matching the artifact's name
   pattern that does not carry the current process token, whose OWNER
   process (sibling ``<dir>.owner`` pid file) is no longer alive, AND
   that is older than ``_SWEEP_AGE_S``. Liveness + age together make
   CONCURRENT harnesses safe: a live sibling's generation is never
   clobbered mid-use however long it runs (a dir's mtime freezes at
   creation, so age alone failed for >1 h sessions; observed earlier: a
   parallel oracle-gate run sweeping the pytest process's bucketed
   tables failed q81), while orphans from crashed runs still get
   collected one age-window later. Disk stays bounded at ~one
   generation per SF tag per age window.
2. **atexit**: best-effort removal of our own generation at interpreter
   exit (pure ``shutil`` — no Spark needed, so it works after the
   session/JVM is gone).

Together they bound disk usage at ~one live generation per SF tag.
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import sys
import tempfile
import time
import uuid

# The one process token in every artifact name: process-unique, NOT the
# pid — /tmp and the warehouse outlive the process, and a recycled pid
# would make a generation gate skip the write and read a stale artifact.
TOKEN = uuid.uuid4().hex[:12]

_REGISTERED: set[str] = set()

# Foreign generations younger than this are presumed to belong to a LIVE
# concurrent process and are left alone; their own atexit hook removes
# them, or a later sweep does once they age out.
_SWEEP_AGE_S = 3600.0


def _cleanup_registered() -> None:  # pragma: no cover - exit hook
    for path in list(_REGISTERED):
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            try:
                os.remove(path)
            except OSError:
                pass


atexit.register(_cleanup_registered)


def register_cleanup(path: str) -> str:
    """Register an arbitrary path for best-effort removal at interpreter
    exit (no sweep — for throwaway outputs like drain parquet dirs that
    have no generation pattern). Returns ``path`` for chaining."""
    _REGISTERED.add(path)
    return path


def _owner_alive(artifact_dir: str) -> bool:
    """True when the SIBLING ``<dir>.owner`` pid file records a process
    that still runs. The owner file sits NEXT TO the artifact dir, not
    inside it, because a Spark ``mode("overwrite")`` write wipes the dir
    contents. Missing/unreadable owner files report NOT alive (fall
    through to the age gate)."""
    try:
        with open(artifact_dir.rstrip("/") + ".owner") as fh:
            pid = int(fh.read().strip())
        return os.path.exists(f"/proc/{pid}")
    except (OSError, ValueError):
        return False


def _claim_dir(pattern: str, path: str) -> str:
    """Claim ``path`` (which must match ``pattern`` and contain
    :data:`TOKEN`) as this process's generation of an artifact family:
    sweep prior generations matching ``pattern`` that lack the token,
    and register ``path`` for atexit removal. Returns ``path``.

    Sweep rule: a foreign generation is removed only when its recorded
    OWNER process is gone AND it is older than the age gate. The
    liveness check matters because a dir's mtime freezes at creation —
    age alone would let a second harness delete a >1 h-old generation a
    LONG-RUNNING sibling is still reading (the clobber class the age
    gate was added for, merely pushed past the 1 h mark)."""
    for stale in glob.glob(pattern):
        # The pattern can also match sibling .owner pid FILES — only
        # directories are artifact generations.
        if not os.path.isdir(stale):
            continue
        if TOKEN in os.path.basename(stale):
            continue
        if _owner_alive(stale):
            continue
        try:
            if time.time() - os.path.getmtime(stale) < _SWEEP_AGE_S:
                continue
        except OSError:
            continue
        shutil.rmtree(stale, ignore_errors=True)
        try:
            os.remove(stale.rstrip("/") + ".owner")
        except OSError:
            pass
    # Record ownership (sibling pid file) so other processes can test
    # our liveness before sweeping.
    owner = path.rstrip("/") + ".owner"
    try:
        with open(owner, "w") as fh:
            fh.write(str(os.getpid()))
    except OSError:
        pass
    _REGISTERED.add(path)
    _REGISTERED.add(owner)
    return path


# Absolute warehouse path per SparkContext, resolved ONCE at session
# creation (session.get_spark calls resolve_warehouse immediately): a
# RELATIVE spark.sql.warehouse.dir is resolved by Spark against the
# process cwd at session START, so abspath-ing it lazily at first claim
# could point the sweep/atexit at a different ./spark-warehouse if the
# cwd moved in between (round-10 ADVICE fix).
_WAREHOUSE_ABS: dict[str, str] = {}


def resolve_warehouse(spark) -> str:
    """Absolute path of the session's managed-table warehouse, cached by
    applicationId so the value is pinned to what Spark resolved at
    session start regardless of later ``os.chdir`` calls."""
    key = spark.sparkContext.applicationId
    if key not in _WAREHOUSE_ABS:
        wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        wh = wh.removeprefix("file://").removeprefix("file:")
        _WAREHOUSE_ABS[key] = os.path.abspath(wh)
    return _WAREHOUSE_ABS[key]


def _sf_tag(sf_dir: str) -> str:
    return os.path.basename(sf_dir.rstrip("/"))


def table_generation(spark, sf_dir: str, families, build) -> list[str] | None:
    """This process's generation of a warehouse artifact: the managed
    tables ``wetsa_<family>_<sftag>_<TOKEN>``, one per family, returned
    in ``families`` order.

    Each table's directory is claimed best-effort (sweep of dead prior
    generations of its family under the session warehouse, atexit
    removal). ``build(names)`` then runs only when the LAST name — the
    commit gate — is absent from the catalog, so ``build`` must write
    the gate table last: a committed gate beside a failed earlier write
    would make every later run read a partial generation (the q197
    commit-order lesson).

    Returns None when the catalog raises (a read-only metastore cwd, an
    odd warehouse conf, a failed build); the caller then serves from
    plain frames. That fallback rebuilds the index on every call —
    correct output, incremental contract lost, ~5x the cost of a probe —
    so it prints one stderr note instead of passing silently: if a bench
    number looks like the build instead of the probe, this line is the
    first thing to look for."""
    tag = "".join(c for c in _sf_tag(sf_dir) if c.isalnum())
    names = [f"wetsa_{fam}_{tag}_{TOKEN}" for fam in families]
    try:
        wh = resolve_warehouse(spark)
        for fam, name in zip(families, names):
            _claim_dir(
                os.path.join(wh, f"wetsa_{fam}_{tag}_*"), os.path.join(wh, name)
            )
    except Exception:  # noqa: BLE001 — cleanup is best-effort only
        pass
    try:
        if not spark.catalog.tableExists(names[-1]):
            build(names)
    except Exception as ex:  # noqa: BLE001 — catalog unavailable
        print(
            f"# wetsa_{families[-1]}: warehouse/catalog unavailable ({ex}); "
            "falling back to a full rebuild per call",
            file=sys.stderr,
        )
        return None
    return names


def tmp_generation(sf_dir: str, family: str, write, suffix: str = "") -> str:
    """This process's generation of a tmp layout,
    ``<tmp>/wetsa_<family>_<TOKEN>_<sftag><suffix>``: claimed (sweep of
    dead prior generations of ``family`` for this SF, atexit removal),
    then ``write(path)`` runs only when the dir has no ``_SUCCESS``
    marker — Spark's own for a plain write, or one the writer drops
    itself after its last file (``chrono_split``). The sweep pattern
    ignores ``suffix``, so stale generations of every suffix (file
    count, variant) are collected."""
    tmp = tempfile.gettempdir()
    sf_tag = _sf_tag(sf_dir)
    path = _claim_dir(
        os.path.join(tmp, f"wetsa_{family}_*_{sf_tag}*"),
        os.path.join(tmp, f"wetsa_{family}_{TOKEN}_{sf_tag}{suffix}"),
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write(path)
    return path


_PARAMS_SCHEMA = "kind string, idx int, id bigint, vals array<double>"


def save_params(spark, name: str, **kinds) -> None:
    """Write an index's frozen parameters as one ``(kind, idx, id,
    vals)`` table. A list value stores one vector per ``idx`` in
    ``vals``; a dict value stores ``{idx: node id}`` in the bigint
    ``id`` column — node ids never ride the float payload, which would
    round-trip lossily above 2^53."""
    rows = []
    for kind, v in kinds.items():
        if isinstance(v, dict):
            rows += [(kind, int(i), int(x), []) for i, x in sorted(v.items())]
        else:
            rows += [
                (kind, i, None, [float(x) for x in vec])
                for i, vec in enumerate(v)
            ]
    spark.createDataFrame(rows, _PARAMS_SCHEMA).write.mode(
        "overwrite"
    ).saveAsTable(name)


def load_params(spark, name: str) -> dict:
    """Inverse of :func:`save_params` — a bounded, parameter-sized
    collect: each vector kind comes back as a list ordered by ``idx``,
    each id kind as ``{idx: id}``."""
    vecs: dict[str, dict[int, list[float]]] = {}
    ids: dict[str, dict[int, int]] = {}
    for r in spark.table(name).collect():
        if r["id"] is not None:
            ids.setdefault(r["kind"], {})[r["idx"]] = int(r["id"])
        else:
            vecs.setdefault(r["kind"], {})[r["idx"]] = list(r["vals"])
    out: dict = {k: [v[i] for i in range(len(v))] for k, v in vecs.items()}
    out.update(ids)
    return out
