"""Cross-session parquet staging of derived import relations.

The engine's operating model is the deployed importer's: materialize the
business tables ONCE per source dataset, serve every query from the stored
relations (the reference writes them to MySQL via JDBC; the batch engine
writes parquet). Round 1 memoized the materialization per *session* via
``localCheckpoint``; this module persists it per *dataset* instead, so a
new session (a fresh bench run, a notebook restart) pays a parquet scan,
not the full derive→route→dedup→pivot import.

Correctness guards:

- The cache key fingerprints BOTH the source data (``orders.parquet``
  size + mtime — the synthetic corpus derives solely from orders) AND the
  bytes of every module that defines the pipeline semantics — editing an
  operator auto-invalidates the cache, so a stale stage can never satisfy
  the oracle gate with old semantics.
- Writes go to a tmp dir then ``os.rename`` into place: concurrent
  builders race benignly (first rename wins, losers discard their tmp).
- ``SPARK_GRAFT_STAGE_CACHE=0`` disables persistence entirely (falls back
  to the round-1 in-session ``localCheckpoint`` behavior).

At cluster scale the analogue is writing hop tables to object storage
(Delta/parquet) keyed by source snapshot — which the streaming path
already does with its multi-hop layers (streaming/pipeline.py).
"""

from __future__ import annotations

import hashlib
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

_PKG_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_REPO_ROOT = os.path.dirname(_PKG_DIR)

# Modules whose bytes define the import semantics: any edit to these
# changes what the staged tables SHOULD contain, so they key the cache.
_SEMANTIC_SOURCES = (
    "config.py",
    "schemas.py",
    "functions/scalars.py",
    "operators/classify.py",
    "operators/event_tables.py",
    "operators/lifecycle.py",
    "operators/entities.py",
    "operators/mappers.py",
    "operators/pipeline.py",
    "plans/synthetic.py",
    # data-path loader: load_table normalizes parquet timestamp types on the
    # way into zeebe_events_df, so its semantics key the cache too
    "sources/files.py",
)

# Staging DOMAINS: each staged relation belongs to a domain that names the
# source file(s) its contents derive from and the code modules that define
# its semantics — so editing an analytics module invalidates the analytics
# hops without forcing a zeebe-import rebuild, and vice versa. Analytics
# domains live in sibling fingerprint dirs ("{base}.{domain}-{fp}"), zeebe
# keeps the bare "{base}-{fp}" naming for cache continuity.
_DOMAINS: dict[str, tuple[tuple[str, ...], tuple[str, ...]]] = {
    "zeebe": (("orders.parquet",), _SEMANTIC_SOURCES),
    # the STREAMING engine's replayed table store (streaming/replay.py):
    # same corpus identity as zeebe, but keyed on the modules that define
    # the replay SEMANTICS — the per-key state machines (state.py), the
    # hop schemas + native batch fixed point (batch_replay.py) and the
    # build orchestration/envelope inverse (replay.py). streaming/
    # pipeline.py is deliberately NOT keyed (VERDICT r13 task #3): it is
    # wrapper/engine code whose hop semantics live in the modules above,
    # so a wrapper-perf edit no longer forces the replay-store rebuild
    # (r13's ~1,000 s driver restaging) — pinned by
    # tests/test_streaming_replay.py.
    "stream": (
        ("orders.parquet",),
        _SEMANTIC_SOURCES
        + (
            "streaming/state.py",
            "streaming/batch_replay.py",
            "streaming/replay.py",
        ),
    ),
    # the wire-fed replay (streaming/replay._build_wire): same corpus and
    # streaming semantics as "stream", plus the NATS source adapter the
    # gate certifies — editing nats_source.py/nats_wire.py rebuilds the
    # wire tree without invalidating the file-fed replay, and vice versa
    "streamwire": (
        ("orders.parquet",),
        _SEMANTIC_SOURCES
        + (
            "streaming/state.py",
            "streaming/batch_replay.py",
            "streaming/replay.py",
            "sources/nats_source.py",
            "sources/nats_wire.py",
        ),
    ),
    "docs": (
        ("documents.parquet",),
        (
            "sources/files.py",
            "analytics/hashing.py",
            "analytics/dedup.py",
            "analytics/text.py",
        ),
    ),
    "emb": (
        ("embeddings.parquet",),
        (
            "sources/files.py",
            "analytics/hashing.py",
            "analytics/dedup.py",
            # the staged emb builders (ann_buckets, ivf_assign, pq_codes,
            # semdedup) live in similarity.py and call the encode kernels
            # in vector_kernels.py — both can change staged bytes
            "analytics/similarity.py",
            "analytics/vector_kernels.py",
            # learned codebooks: retraining must invalidate ivf_assign /
            # pq_codes / the staged semdedup labeling
            "analytics/ivf_centroids.json",
            "analytics/pq_codebooks.json",
            "analytics/semdedup_centroids.json",
        ),
    ),
    "media": (
        ("documents.parquet",),
        ("sources/files.py", "analytics/multimodal.py"),
    ),
    # lexical/model-serving relations (bpe_encode, nb_quality, bm25_search):
    # their semantics live in the tokenizer/classifier/retrieval modules AND
    # in the frozen trained artifacts (merge table, NB weights) — retraining
    # an artifact or editing a module must invalidate these stages, exactly
    # like the emb domain keys ivf_centroids.json/pq_codebooks.json. text.py
    # is keyed because all three share its word definition (_tokens).
    "lex": (
        ("documents.parquet",),
        (
            "sources/files.py",
            "analytics/text.py",
            "analytics/bpe.py",
            "analytics/classifier.py",
            "analytics/search.py",
            "analytics/bpe_merges.json",
            "analytics/nb_quality.json",
        ),
    ),
    "train": (
        ("documents.parquet",),
        ("sources/files.py", "analytics/hashing.py", "analytics/training.py"),
    ),
    # the incremental vector store staged as a SERVING artifact (registry
    # entry ann_search_store): its layout semantics live in
    # incremental_vectors.py and the manifest layer batch_store.py, so
    # edits there rebuild the store without invalidating the flat
    # emb-domain artifacts (and vice versa)
    "vstore": (
        ("embeddings.parquet",),
        (
            "sources/files.py",
            # r13 (VERDICT r12 task #5): the store BUILD reads only the
            # encode kernels, so query-plan edits in similarity.py no
            # longer force the 20+-second store rebuild
            "analytics/vector_kernels.py",
            "analytics/batch_store.py",
            "analytics/incremental_vectors.py",
            "analytics/ivf_centroids.json",
            "analytics/pq_codebooks.json",
        ),
    ),
    # the incremental curation store staged as a read-path artifact —
    # it EMBEDS a complete doc near-dup store, so it also serves the
    # minhash_dups_store / dup_clusters_store entries (one staged tree,
    # registry entries curation_store / vocabulary_store /
    # corpus_report_store ride the same build); text.py defines the
    # shared cascade/aggregate
    "cstore": (
        ("documents.parquet",),
        (
            "sources/files.py",
            "analytics/hashing.py",
            "analytics/dedup.py",
            "analytics/text.py",
            "analytics/batch_store.py",
            "analytics/incremental_docs.py",
            "analytics/incremental_curation.py",
            # the drift trip-wires freeze the NB model and the BPE pair
            # head into the base manifest (r10): retraining an artifact
            # or editing its module must re-freeze the references
            "analytics/bpe.py",
            "analytics/classifier.py",
            "analytics/bpe_merges.json",
            "analytics/nb_quality.json",
        ),
    ),
    # the incremental embedding near-dup store staged as a read-path
    # artifact (registry entries embedding_dups_store /
    # embedding_dup_clusters_store)
    "estore": (
        ("embeddings.parquet",),
        (
            "sources/files.py",
            "analytics/hashing.py",
            "analytics/dedup.py",
            "analytics/batch_store.py",
            "analytics/incremental_embeddings.py",
            # the store's SQ16 sketch columns are encoded by
            # vector_kernels.sq16_meta_of — a kernel edit changes bytes
            "analytics/vector_kernels.py",
        ),
    ),
}


def cache_root() -> str | None:
    """Cache directory, or None when persistence is disabled."""
    flag = os.environ.get("SPARK_GRAFT_STAGE_CACHE", "1").strip().lower()
    if flag in ("0", "false", "no", "off"):
        return None
    return os.environ.get(
        "SPARK_GRAFT_STAGE_CACHE_DIR", os.path.join(_REPO_ROOT, ".stage_cache")
    )


#: (module rel-paths, per-file (size, mtime_ns) identity) -> digest.
#: The code digest re-reads ~6 MB of module + codebook bytes per
#: fingerprint call otherwise (~29 ms — paid on EVERY staged-relation
#: resolution); file identity makes the cache exact while keeping the
#: dev contract that an edited module re-keys its domains.
_CODE_DIGEST_CACHE: dict[tuple, str] = {}


def _code_digest(modules: tuple[str, ...]) -> str:
    paths = [os.path.join(_PKG_DIR, rel) for rel in modules]
    ident = tuple(
        (p, st.st_size, st.st_mtime_ns)
        for p, st in ((p, os.stat(p)) for p in paths)
    )
    hit = _CODE_DIGEST_CACHE.get(ident)
    if hit is not None:
        return hit
    h = hashlib.sha256()
    for path in paths:
        with open(path, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    _CODE_DIGEST_CACHE[ident] = digest
    return digest


def fingerprint(sf_dir: str, domain: str = "zeebe") -> str:
    """Digest of (source data identity, pipeline-semantics code) for the
    relation's staging domain."""
    sources, modules = _DOMAINS[domain]
    h = hashlib.sha256()
    for src in sources:
        st = os.stat(os.path.join(sf_dir, src))
        h.update(
            f"{os.path.abspath(sf_dir)}|{src}|{st.st_size}|{st.st_mtime_ns}|".encode()
        )
    h.update(_code_digest(modules).encode())
    return h.hexdigest()[:16]


def _domain_base(sf_dir: str, domain: str) -> str:
    base = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return base if domain == "zeebe" else f"{base}.{domain}"


def _dataset_dir(root: str, sf_dir: str, domain: str = "zeebe") -> str:
    return os.path.join(
        root, f"{_domain_base(sf_dir, domain)}-{fingerprint(sf_dir, domain)}"
    )


def _prune_stale(root: str, keep: str) -> None:
    """Drop stale fingerprints of the same dataset basename (the driver
    regenerates testdata in place, so old stages are garbage)."""
    base = os.path.basename(keep).rsplit("-", 1)[0]
    try:
        entries = os.listdir(root)
    except OSError:
        return
    for name in entries:
        full = os.path.join(root, name)
        # exact basename equality (strip the fingerprint suffix) — a prefix
        # match would delete 'sf0.1-alt's stage whenever 'sf0.1' rebuilds
        if full == keep or name.rsplit("-", 1)[0] != base:
            continue
        shutil.rmtree(full, ignore_errors=True)


def drop_stage(sf_dir: str, name: str, domain: str = "zeebe") -> None:
    """Remove a SUPERSEDED staged relation by name (e.g. after a layout
    rename: the fingerprint keys data+semantics, not layout, so the old
    name would otherwise sit in the live fingerprint dir forever).

    Best-effort by contract: cleanup must never be the step that fails a
    build — if the dataset's sources can't be fingerprinted (missing or
    synthetic sf_dir), there is no live fingerprint dir to clean."""
    root = cache_root()
    if root is None:
        return
    try:
        target = os.path.join(_dataset_dir(root, sf_dir, domain), name)
    except OSError:
        return
    shutil.rmtree(target, ignore_errors=True)


def is_staged(sf_dir: str, name: str, domain: str = "zeebe") -> bool:
    root = cache_root()
    if root is None:
        return False
    return os.path.exists(
        os.path.join(_dataset_dir(root, sf_dir, domain), name, "_SUCCESS")
    )


def artifact_dir(sf_dir: str, domain: str) -> str | None:
    """Fingerprinted per-dataset directory for NON-parquet staged
    artifacts (e.g. the incremental vector store's root tree), or None
    when persistence is disabled. Prunes stale fingerprints of the same
    dataset on the way. The CALLER owns completeness semantics: build
    into a tmp sibling inside this dir, then ``os.rename`` into place —
    presence of the final name means the artifact is complete."""
    root = cache_root()
    if root is None:
        return None
    ds = _dataset_dir(root, sf_dir, domain)
    _prune_stale(root, keep=ds)
    os.makedirs(ds, exist_ok=True)
    return ds


#: cache-disabled artifact-tree memo:
#: (applicationId, sf_dir, domain, name, src_size, src_mtime_ns) -> root
_TREE_MEMO: dict[tuple, str] = {}


def artifact_tree(
    spark: SparkSession,
    sf_dir: str,
    domain: str,
    name: str,
    build: Callable[[str], None],
    identity_source: str,
) -> str:
    """A staged DIRECTORY-TREE artifact (e.g. an incremental store's
    root: manifests + batch dirs — not a single parquet relation), built
    once per (dataset, code) fingerprint by ``build(root)``.

    Completeness = presence of the final dir name: builders work in a
    tmp sibling and ``os.rename`` into place. Losing a concurrent race
    (the final path appeared underneath us) discards the tmp; any OTHER
    rename failure propagates with the real error instead of returning
    a path that doesn't exist. Stale tmp siblings from crashed builders
    of any pid are swept before building. With caching disabled the
    tree builds into a session-scoped temp dir keyed on DATA IDENTITY
    (``identity_source``'s size+mtime — a dataset regenerated in place
    must not be served by a stale tree) and is removed at interpreter
    exit."""
    import atexit
    import tempfile

    ds_dir = artifact_dir(sf_dir, domain)
    if ds_dir is None:
        st = os.stat(os.path.join(sf_dir, identity_source))
        key = (
            spark.sparkContext.applicationId,
            os.path.abspath(sf_dir),
            domain,
            name,
            st.st_size,
            st.st_mtime_ns,
        )
        if key not in _TREE_MEMO:
            path = tempfile.mkdtemp(prefix=f"spark-graft-{domain}-")
            atexit.register(shutil.rmtree, path, ignore_errors=True)
            build(path)
            _TREE_MEMO[key] = path
        return _TREE_MEMO[key]
    path = os.path.join(ds_dir, name)
    if not os.path.isdir(path):
        for entry in os.listdir(ds_dir):
            if not entry.startswith(f"{name}.tmp-"):
                continue
            # sweep dead builders' tmp dirs AND our own pid's (a tmp with
            # our pid is a crashed earlier attempt in THIS process — it
            # cannot be a live concurrent builder, and building into a
            # dirty tree makes the store builders fail their re-delivery
            # guards or, worse, rename a corrupt tree into place). A tmp
            # from a different LIVE pid is left alone.
            try:
                pid = int(entry.rsplit("-", 1)[1])
            except ValueError:
                pid = None
            if pid is not None and pid != os.getpid() and _pid_alive(pid):
                continue
            shutil.rmtree(os.path.join(ds_dir, entry), ignore_errors=True)
        tmp = f"{path}.tmp-{os.getpid()}"
        build(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(path):  # not a benign lost race
                raise
    return path


def _pid_alive(pid: int) -> bool:
    """True when a process with this pid exists (signal-0 probe; EPERM
    means it exists but is not ours — still alive)."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def bucketed_dir(sf_dir: str) -> str | None:
    """Root for the dataset's co-bucketed table store (sinks/storage.py) —
    lives under the same fingerprinted dir as the parquet stage, so code or
    data changes invalidate the bucketed files too. None when disabled.

    The name carries the layout version ("_c" = compacted, r13: the
    writer now pre-shuffles by the bucket key so each table is
    num_buckets files, not input-partitions × buckets): the fingerprint
    keys data+semantics, not layout, and sinks/storage.py is not a
    fingerprinted module — without the rename an existing store would
    serve the old many-file layout forever. The superseded name is
    dropped so the store never doubles."""
    root = cache_root()
    if root is None:
        return None
    ds = _dataset_dir(root, sf_dir)
    shutil.rmtree(os.path.join(ds, "bucketed"), ignore_errors=True)
    return os.path.join(ds, "bucketed_c")


def read_staged(
    spark: SparkSession, sf_dir: str, name: str, domain: str = "zeebe"
) -> DataFrame:
    """Read a relation known to be staged (``is_staged`` returned True)."""
    root = cache_root()
    assert root is not None, "stage cache disabled"
    return spark.read.parquet(
        os.path.join(_dataset_dir(root, sf_dir, domain), name)
    )


#: session memo over staged relations: the parquet stage is the
#: cross-session cache; the block-manager localCheckpoint on top stops
#: repeat consumers in ONE session from re-scanning the stored files.
_MEMO: dict[tuple[str, str, str, str], DataFrame] = {}


def load_memoized(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[], DataFrame],
    domain: str = "zeebe",
) -> DataFrame:
    """:func:`load_or_build` plus an in-session block-manager copy."""
    key = (spark.sparkContext.applicationId, sf_dir, name, domain)
    if key not in _MEMO:
        _MEMO[key] = load_or_build(
            spark, sf_dir, name, build, domain
        ).localCheckpoint(eager=False)
    return _MEMO[key]


#: session memo of staged-relation row counts (see row_count).
_COUNT_MEMO: dict[tuple[str, str, str, str], int] = {}


def parquet_row_count(path: str) -> int | None:
    """Row count of a parquet file/dir from FOOTER metadata only — zero
    Spark jobs, no data scan (pyarrow reads each footer's num_rows).
    Returns None when the path isn't local readable parquet (caller
    falls back to a Spark count)."""
    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            # os.walk: staged stores may be hive-partitioned (cluster_id=N/)
            total = 0
            for dirpath, _dirs, files in os.walk(path):
                for name in files:
                    if name.endswith(".parquet"):
                        total += pq.ParquetFile(
                            os.path.join(dirpath, name)
                        ).metadata.num_rows
            return total
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return None


def row_count(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[], DataFrame],
    domain: str = "zeebe",
) -> int:
    """Row count of a staged relation WITHOUT a per-call Spark job.

    A staged relation's cardinality is fixed at staging time, so callers
    that size a plan parameter from it (e.g. the ADC corpus-proportional
    refine pool) should read a scalar, not launch a count() job on every
    query invocation (VERDICT r5 'What's wrong' #3). Staged path: parquet
    footer metadata. Cache-disabled path: one memoized count() per
    session."""
    key = (spark.sparkContext.applicationId, sf_dir, name, domain)
    if key in _COUNT_MEMO:
        return _COUNT_MEMO[key]
    root = cache_root()
    n: int | None = None
    if root is not None:
        # ensure the stage exists, then read its footers
        load_or_build(spark, sf_dir, name, build, domain)
        n = parquet_row_count(
            os.path.join(_dataset_dir(root, sf_dir, domain), name)
        )
    if n is None:
        n = load_memoized(spark, sf_dir, name, build, domain).count()
    _COUNT_MEMO[key] = n
    return n


def load_or_build(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[], DataFrame],
    domain: str = "zeebe",
    partition_by: list[str] | None = None,
) -> DataFrame:
    """The staged relation ``name`` for ``sf_dir`` — read from the parquet
    stage when present, else built, persisted, and read back.

    The read-back (rather than returning the built DataFrame) matters even
    in-session: a parquet-backed relation gives downstream subtrees column
    pruning and a short logical plan, where ``localCheckpoint`` always
    replays whole stored partitions.

    ``partition_by`` writes the stage hive-partitioned on those columns,
    so downstream equality predicates on them become partition-pruned
    reads (PartitionFilters in the scan) instead of full scans. A stage
    that changes its layout must also change its NAME — the fingerprint
    keys source data + semantics code, not layout, so an existing stage
    under the old name would otherwise satisfy the lookup forever.
    """
    root = cache_root()
    if root is None:
        # persistence disabled -> round-1 behavior
        return build().localCheckpoint(eager=True)

    import json

    ds_dir = _dataset_dir(root, sf_dir, domain)
    path = os.path.join(ds_dir, name)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        _prune_stale(root, keep=ds_dir)
        tmp = f"{path}.tmp-{os.getpid()}"
        df = build()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        if partition_by:
            # sidecar: the built schema's column order and types. Hive
            # partition read-back TYPE-INFERS partition columns (a
            # numeric-looking value like '007' would come back as int 7,
            # silently changing grouping keys and oracle agreement) and
            # moves them to the end of the schema; the sidecar lets the
            # read restore the exact written shape.
            with open(os.path.join(tmp, "_stage_schema.json"), "w") as f:
                json.dump(
                    [(fld.name, fld.dataType.simpleString()) for fld in df.schema],
                    f,
                )
        try:
            os.rename(tmp, path)
        except OSError:
            # another builder won the race; its output is equivalent
            shutil.rmtree(tmp, ignore_errors=True)
    sidecar = os.path.join(path, "_stage_schema.json")
    if not os.path.exists(sidecar):
        return spark.read.parquet(path)
    # partitioned stage: read with type inference OFF (inference is
    # lossy — '007' infers as int 7 and casting back yields '7'), then
    # restore the written column order and types from the sidecar. The
    # inference toggle is analysis-time, so scoping it around the read
    # is sufficient.
    conf_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(conf_key, "true")
    spark.conf.set(conf_key, "false")
    try:
        out = spark.read.parquet(path)
    finally:
        spark.conf.set(conf_key, prev)
    with open(sidecar) as f:
        cols = json.load(f)
    from pyspark.sql import functions as F

    return out.select(*[F.col(c).cast(t).alias(c) for c, t in cols])
