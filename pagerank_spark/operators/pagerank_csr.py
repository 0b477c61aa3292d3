"""PageRank v2: CSR-blocked Arrow SpMV (input_hint mandate).

Identical math to operators/pagerank.py (reference pagerank.py:122-172); the
SpMV changes from a JVM join+agg into block-local NumPy kernels.

Design — why this shape survives scale:

  * vertex ids are DETERMINISTIC 64-bit hashes of the url (xxhash64, salted
    on the astronomically-rare collision, checked with one vertex-sized
    aggregate). Pure projection — encoding the edge table needs NO join at
    all (the previous design's double edges-join-ids was the dominant setup
    cost at bench scale), and resumed runs are bit-exact because the ids are
    a function of the data, not of a run-specific partition layout.
  * the edge table is spilled ONCE per graph as per-block parquet
    (block = pmod(sid, B)) — entirely JVM-side: one columnar shuffle +
    write, no Arrow transfer of the edge table to Python (an applyInPandas
    spill was measured paying ~O(|E|) extra Arrow serialization).
  * each NODE factorizes a block exactly once, at first touch: the first
    task to need block b reads its parquet, runs the np.unique
    factorization (sid_u, sid_codes, did_u, did_codes, w), and publishes
    the arrays as ``.npy`` files in a node-local cache dir via atomic
    rename. Every task after that — whichever Python worker it lands on —
    serves the block via ``np.load(mmap_mode='r')``: the block cache is
    the OS PAGE CACHE, per NODE, not per Python worker. This is the fix
    for the round-2 design's hidden rescan: with B blocks and W reused
    Python workers, task-to-worker placement is arbitrary, so over k
    iterations a per-worker in-memory cache re-reads and re-factorizes
    each block up to min(k, W) times (measured: 819 s vs the join-agg's
    170 s at 118M edges — ALL of it redundant decode). With the mmap'd
    node cache, placement stops mattering. A naive cogroup design is still
    worse: shipping edges JVM→Python every iteration costs O(|E|) Arrow
    traffic per iteration (measured 4.7x slower than v1 at 4M edges); here
    the per-iteration transfer is vertex-sized.
  * the spill lives in a fresh run-<uuid> directory every time it happens,
    so cached mmaps can never alias a previous graph's arrays, and it is
    recorded on the LinkGraph — repeated pagerank_csr calls on the same
    graph (e.g. per-query personalization) reuse the warm spill.
  * a _MANIFEST.json (listing the non-empty blocks) is written AFTER the
    spill job completes; workers REFUSE to treat a block as absent unless
    the manifest says so, so an unreadable/unshared scratch path (the
    silent-teleport-vector failure mode) raises instead of converging to
    garbage. Non-local (URI) scratch goes through pyarrow.fs: each node
    downloads a block once into a local node-cache dir and mmaps from
    there, so HDFS/S3 scratch works wherever pyarrow has the bindings.
  * per iteration, applyInPandas over the rank blocks only: gather x[sid]
    via one searchsorted per block, contribs = weight * x[sid], segment-sum
    by dst code with np.bincount (true vectorized segment-sum), then one JVM
    aggregation combines partial sums across blocks. The loop itself —
    fold join, lazy localCheckpoint, fused stats action, checkpoint/resume —
    is operators/pagerank.power_iterate, shared with v1; this module is its
    SpMV backend (_csr_spmv).
  * the plan is pinned per-query, not via session conf: the contribs
    aggregation rides an explicit repartition(B, 'vid') (AQE preserves
    user-specified partition counts) and the contribs fold is hinted
    'merge' so AQE cannot rewrite the exchange-free join into a
    per-iteration broadcast.

``scratch_dir``: where the per-block arrays live. Defaults to a local
tempdir (correct for local[*] and single-node). On a multi-executor cluster
pass a path on shared storage (HDFS/S3/NFS) visible to executors; each node
downloads each of its blocks once and serves the rest of the run from its
page cache. Size ``num_blocks`` so one block's arrays (~28 bytes/edge) fit
comfortably in a worker's memory: at 10^12 edges and 4 GiB targets that is
B ~= 10^4 blocks, which also keeps the per-task pandas group bounded during
the spill.

``checkpointer`` / ``x0_df``: same durable-resume and warm-start contract as
v1 (reference power_method(v, x0, ...), pagerank.py:122,142-145). Resume
re-derives the hash ids from the saved urls, so a killed job resumes
bit-exactly.

Cross-check test: must equal v1 (and the NumPy oracle) to 1e-6 per vertex.
"""

from __future__ import annotations

import json
import os
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.pagerank import SpMV, power_iterate

# per-process mmap handles (cheap: a handle is a view, the data lives in the
# node's page cache, shared by ALL Python workers on the node). Keyed by the
# spill path, which embeds a per-spill uuid — a stale key can never alias a
# new graph's data.
_BLOCK_CACHE: dict = {"dir": None, "manifest": None, "blocks": {}}

_MANIFEST = "_MANIFEST.json"
_ARRAYS = ("sid_u", "sid_codes", "did_u", "did_codes", "w")


def _fs_and_root(scratch: str):
    """pyarrow filesystem + normalized root path for a local or URI scratch."""
    from pyarrow import fs as pafs

    if "://" in scratch:
        return pafs.FileSystem.from_uri(scratch)
    return pafs.LocalFileSystem(), os.path.abspath(scratch)


def _read_manifest(scratch: str) -> dict:
    filesystem, root = _fs_and_root(scratch)
    try:
        with filesystem.open_input_stream(f"{root}/{_MANIFEST}") as f:
            return json.loads(f.read().decode("utf-8"))
    except Exception as e:
        raise RuntimeError(
            f"pagerank_csr scratch {scratch!r} has no readable {_MANIFEST}: "
            "either the edge spill did not complete, or this worker cannot "
            "see the scratch path (on a multi-executor cluster scratch_dir "
            "must be on shared storage reachable from every executor). "
            "Refusing to treat the block as empty."
        ) from e


_BLOCK_META = "_meta.json"
# skip a cache base when the block's arrays would eat more than this share
# of its CURRENT free space (tmpfs is bounded: filling /dev/shm turns later
# allocations anywhere on the node into hard failures)
_SHM_BUDGET_FRACTION = 0.5


def _cache_bases() -> list:
    """Candidate cache roots in preference order. /dev/shm (tmpfs — the
    publish never touches disk; the cache IS the pages the mmaps read) then
    the disk tempdir as the always-available fallback. An explicit
    PAGERANK_CSR_CACHE_DIR (e.g. a local NVMe on memory-tight executors)
    replaces the whole list."""
    import tempfile

    base = os.environ.get("PAGERANK_CSR_CACHE_DIR")
    if base is not None:
        return [base]
    out = []
    if os.path.isdir("/dev/shm"):
        out.append("/dev/shm")
    tmp = tempfile.gettempdir()
    if tmp not in out:
        out.append(tmp)
    return out


def _node_cache_dirs(scratch: str) -> list:
    """This node's cache directories for the spill (same paths for every
    worker on the node, keyed by the spill's uuid-bearing path), one per
    candidate base. A block lives in exactly one of them — whichever base
    had budget when the block was first localized."""
    import hashlib

    tag = hashlib.md5(scratch.encode("utf-8")).hexdigest()[:16]
    return [os.path.join(b, f"pagerank_csr_nodecache_{tag}") for b in _cache_bases()]


def _fits_budget(base_dir: str, nbytes: int, fraction: float) -> bool:
    try:
        st = os.statvfs(base_dir)
    except OSError:
        return False
    return nbytes <= fraction * st.f_bavail * st.f_frsize


def _publish_block(dst: str, arrays: dict) -> bool:
    """Atomically publish the block dir (arrays + length manifest). Returns
    False when the write fails midway (e.g. tmpfs filled under us) — the
    half-written tmp dir is removed and the caller tries the next base."""
    import shutil

    tmp = f"{dst}.tmp-{uuid.uuid4().hex[:8]}"
    try:
        os.makedirs(tmp, exist_ok=True)
        meta = {}
        for name, arr in arrays.items():
            with open(os.path.join(tmp, f"{name}.npy"), "wb") as out:
                np.save(out, np.ascontiguousarray(arr), allow_pickle=False)
            meta[name] = [len(arr), str(arr.dtype)]
        with open(os.path.join(tmp, _BLOCK_META), "w") as out:
            json.dump(meta, out)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        return False
    try:
        os.rename(tmp, dst)
    except OSError:  # another worker won the race — use its copy
        shutil.rmtree(tmp, ignore_errors=True)
    return True


def _localize_block(scratch: str, block: int) -> str:
    """Return a LOCAL directory holding the block's factorized .npy arrays,
    building it from the spill parquet on the node's first touch (atomic
    publish via rename so concurrent workers never see a half-written block;
    the losing builder discards its copy). Every later task on the node —
    whichever Python worker it lands on — mmaps the published arrays.

    Cache-budget rule: a base (e.g. /dev/shm) is only written when the
    block's arrays fit within _SHM_BUDGET_FRACTION of its free space —
    tmpfs is bounded, and filling it surfaces later as SIGBUS on someone
    ELSE's mapping, the worst failure mode on the node. A publish that
    still fails midway (ENOSPC race) falls through to the next base; the
    disk tempdir is written unconditionally as the last resort."""
    candidates = [os.path.join(d, f"block={block}") for d in _node_cache_dirs(scratch)]
    for dst in candidates:
        if os.path.isdir(dst):
            return dst

    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    filesystem, root = _fs_and_root(scratch)
    sel = pafs.FileSelector(f"{root}/block={block}", allow_not_found=True)
    files = sorted(
        i.path
        for i in filesystem.get_file_info(sel)
        if i.is_file and not i.base_name.startswith(("_", "."))
    )
    if not files:
        raise RuntimeError(
            f"pagerank_csr block {block} is listed in the manifest but has no "
            f"parquet under {scratch!r} — corrupt or partially-deleted spill"
        )
    t = pq.read_table(files, columns=["sid", "did", "weight"], filesystem=filesystem)
    sid_u, sid_codes = np.unique(t["sid"].to_numpy(), return_inverse=True)
    did_u, did_codes = np.unique(t["did"].to_numpy(), return_inverse=True)
    arrays = {
        "sid_u": sid_u,
        "sid_codes": sid_codes.astype(np.int32),
        "did_u": did_u,
        "did_codes": did_codes.astype(np.int32),
        "w": np.ascontiguousarray(t["weight"].to_numpy(), dtype=np.float64),
    }
    nbytes = sum(a.nbytes for a in arrays.values())
    for i, dst in enumerate(candidates):
        last = i == len(candidates) - 1
        if not last and not _fits_budget(os.path.dirname(os.path.dirname(dst)),
                                         nbytes, _SHM_BUDGET_FRACTION):
            continue
        if _publish_block(dst, arrays):
            return dst
    raise RuntimeError(
        f"pagerank_csr could not publish block {block} to any cache base "
        f"({_cache_bases()}): all writes failed (disk full?)"
    )


def _mmap_block(d: str):
    """mmap the block dir's arrays, VERIFIED against its length manifest.
    Raises OSError/ValueError when the dir was evicted or truncated between
    the existence check and the read — the caller rebuilds from the spill
    instead of handing the kernel a garbage mapping."""
    with open(os.path.join(d, _BLOCK_META)) as f:
        meta = json.load(f)
    out = []
    for name in _ARRAYS:
        arr = np.load(os.path.join(d, f"{name}.npy"), mmap_mode="r")
        want_len, want_dtype = meta[name]
        if len(arr) != want_len or str(arr.dtype) != want_dtype:
            raise ValueError(
                f"cached block {d!r} array {name}: have ({len(arr)}, "
                f"{arr.dtype}), manifest says ({want_len}, {want_dtype})"
            )
        out.append(arr)
    return tuple(out)


def _load_block(scratch: str, block: int):
    """mmap the block's factorized CSR arrays. O(1) after the node's first
    touch: np.load(mmap_mode='r') maps the pages every other worker on the
    node already faulted in — no read, no decode, no factorization.

    Eviction-safe: the mmap is verified against the block's length manifest;
    a cache dir deleted or truncated under us (bounded /dev/shm, tmp
    cleaners) is REBUILT from the spill once, and a second failure raises —
    never a silent garbage mapping. Already-issued mmaps stay valid even if
    the file is unlinked (the inode lives until unmapped)."""
    if _BLOCK_CACHE["dir"] != scratch:
        # manifest first: distinguishes 'spill missing/unreadable' (raise)
        # from 'block genuinely empty' (absent from the manifest block list)
        manifest = _read_manifest(scratch)
        _BLOCK_CACHE["dir"] = scratch
        _BLOCK_CACHE["manifest"] = manifest
        _BLOCK_CACHE["blocks"] = {}
    if block not in _BLOCK_CACHE["blocks"]:
        present = _BLOCK_CACHE["manifest"].get("blocks")
        if present is not None and block not in present:
            _BLOCK_CACHE["blocks"][block] = None  # genuinely no edges
        else:
            import shutil

            try:
                blk = _mmap_block(_localize_block(scratch, block))
            except (OSError, ValueError, KeyError):
                # evicted/corrupt cache: drop every base's copy, rebuild
                # from the spill, and verify again — or fail loudly
                for d in _node_cache_dirs(scratch):
                    shutil.rmtree(os.path.join(d, f"block={block}"),
                                  ignore_errors=True)
                try:
                    blk = _mmap_block(_localize_block(scratch, block))
                except (OSError, ValueError, KeyError) as e:
                    raise RuntimeError(
                        f"pagerank_csr block {block}: node cache was evicted "
                        f"and could not be rebuilt from {scratch!r}"
                    ) from e
            _BLOCK_CACHE["blocks"][block] = blk
    return _BLOCK_CACHE["blocks"][block]


def _make_spmv_kernel(scratch: str):
    def spmv(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame({"vid": pd.Series(dtype="int64"),
                                 "c": pd.Series(dtype="float64")})
        blk = _load_block(scratch, int(pdf["block"].iloc[0]))
        if blk is None:
            return pd.DataFrame({"vid": pd.Series(dtype="int64"),
                                 "c": pd.Series(dtype="float64")})
        sid_u, sid_codes, did_u, did_codes, w = blk
        vids = pdf["vid"].to_numpy()
        x = pdf["rank"].to_numpy()
        order = np.argsort(vids)
        # every sid in the block hashes to this block, as does its rank row
        x_u = x[order][np.searchsorted(vids[order], sid_u)]
        contrib = w * x_u[sid_codes]
        sums = np.bincount(did_codes, weights=contrib, minlength=len(did_u))
        return pd.DataFrame({"vid": did_u, "c": sums})

    return spmv


def _vid_expr(url_col, salt: int):
    """Deterministic 64-bit vertex id: pure function of the url, so edge
    encoding is a projection (no id join) and resume is bit-exact."""
    if salt == 0:
        return F.xxhash64(url_col)
    return F.xxhash64(url_col, F.lit(salt))


def _pick_salt(graph) -> int:
    """Find a salt whose xxhash64 is collision-free on this vertex set.

    One vertex-sized aggregate per attempt; salt 0 collides with probability
    ~n^2/2^65 (≈3e-11 at 1M urls), so the loop effectively never iterates —
    but at 10^12 urls a collision becomes plausible (~3%) and MUST be caught:
    a silent collision merges two vertices' ranks."""
    for salt in range(8):
        row = graph.vertices.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(_vid_expr(F.col("url"), salt)).alias("d"),
        ).first()
        if row["n"] == row["d"]:
            return salt
    raise RuntimeError("xxhash64(url) collided for 8 salts — data anomaly?")


def _block_of(col, num_blocks: int):
    return F.pmod(col, F.lit(num_blocks))


def _spill_blocks(graph, salt: int, B: int, scratch: str) -> None:
    """One-time spill of the hash-id-encoded edge table, one parquet dir per
    block (block = pmod(sid, B)). Stays entirely JVM-side — one columnar
    shuffle + write, no Arrow transfer of the edge table to Python (an
    applyInPandas spill was measured paying ~O(|E|) Arrow serialization on
    top of the shuffle). The np.unique factorization happens once per NODE
    at first touch (_localize_block) and is cached as mmap-able .npy.
    The manifest (with the authoritative non-empty block list) is written
    AFTER the parquet completes: its presence is the workers' proof that the
    spill is whole."""
    (
        graph.edges
        .select(
            _vid_expr(F.col("src"), salt).alias("sid"),
            _vid_expr(F.col("dst"), salt).alias("did"),
            "weight",
        )
        .withColumn("block", _block_of(F.col("sid"), B))
        .repartition(B, "block")
        .write.partitionBy("block").mode("overwrite").parquet(scratch)
    )
    from pyarrow import fs as pafs

    filesystem, root = _fs_and_root(scratch)
    blocks = sorted(
        int(i.base_name.split("=", 1)[1])
        for i in filesystem.get_file_info(pafs.FileSelector(root))
        if i.type == pafs.FileType.Directory and i.base_name.startswith("block=")
    )
    manifest = {"num_blocks": B, "salt": salt, "version": 3, "blocks": blocks}
    with filesystem.open_output_stream(f"{root}/{_MANIFEST}") as f:
        f.write(json.dumps(manifest).encode("utf-8"))


def _fresh_scratch(scratch_dir: str | None) -> str:
    if scratch_dir is not None:
        return scratch_dir.rstrip("/") + f"/run-{uuid.uuid4().hex[:12]}"
    import tempfile

    return tempfile.mkdtemp(prefix="pagerank_csr_blocks_") + "/spill"


def _csr_state(graph, B: int, scratch_dir: str | None) -> dict:
    """(salt, scratch) for this graph — spilled once, reused by later calls
    on the same LinkGraph (each spill gets a fresh run-<uuid> dir so worker
    caches can never serve stale arrays).

    Setup-latency overlap (round-5): the collision check and the spill were
    the two big serial setup jobs (measured 2.5 s + 3.6 s at 16M edges /
    32 cores). Salt 0 collides with probability ~n²/2⁶⁵, so the spill runs
    OPTIMISTICALLY with salt 0 while the verification aggregate runs
    concurrently from a daemon thread (Spark schedules jobs from separate
    threads concurrently; an InheritableThread, so the job lands in the
    caller's job group); setup wall becomes max(spill, verify) instead of
    the sum. On the astronomically rare collision the salt-0 spill is
    discarded and redone with the verified salt — correctness never rides
    on the optimism, only latency does."""
    state = getattr(graph, "_csr_state", None)
    if state is not None and state["B"] == B:
        return state

    from pyspark import InheritableThread

    verdict: dict = {}

    def _verify():
        try:
            verdict["salt"] = _pick_salt(graph)
        except BaseException as exc:  # surfaces in the caller below
            verdict["err"] = exc

    th = InheritableThread(_verify, daemon=True, name="csr-salt-verify")
    th.start()
    scratch = _fresh_scratch(scratch_dir)
    _spill_blocks(graph, salt=0, B=B, scratch=scratch)
    th.join()
    if "err" in verdict:
        raise verdict["err"]
    salt = verdict["salt"]
    if salt != 0:
        # collision on salt 0: redo the spill with the verified salt in a
        # FRESH dir (worker caches key on the path, so no aliasing)
        scratch = _fresh_scratch(scratch_dir)
        _spill_blocks(graph, salt, B, scratch)
    state = {"B": B, "salt": salt, "scratch": scratch}
    graph._csr_state = state
    if hasattr(graph, "_register_cleanup"):
        local_root = None if "://" in scratch else os.path.dirname(os.path.abspath(scratch))

        def _cleanup():
            import shutil

            graph._csr_state = None
            if local_root:
                shutil.rmtree(local_root, ignore_errors=True)
            # this node's factorized copy (single-node assumption is fine for
            # local mode; on a cluster each node reclaims its tempdir on its
            # own schedule)
            for d in _node_cache_dirs(scratch):
                shutil.rmtree(d, ignore_errors=True)

        graph._register_cleanup(_cleanup)
    return state


def pagerank_csr(
    graph,
    alpha: float = 0.85,
    v_df: DataFrame | None = None,
    max_iterations: int = 1000,
    epsilon: float = 1e-6,
    num_blocks: int | None = None,
    metrics: list | None = None,
    scratch_dir: str | None = None,
    checkpointer=None,
    x0_df: DataFrame | None = None,
) -> DataFrame:
    """Return (url, rank) — same contract as operators.pagerank.pagerank,
    including durable checkpoint/resume and x0 warm start."""
    B = num_blocks or graph.num_partitions
    state = _csr_state(graph, B, scratch_dir)
    return power_iterate(
        graph, _csr_spmv(B, state["scratch"], state["salt"]), alpha, v_df,
        max_iterations, epsilon, checkpointer, metrics, x0_df,
    )


def _csr_spmv(B: int, scratch: str, salt: int) -> SpMV:
    """P'x by the block kernels over the spill at ``scratch``, keyed by the
    salted hash id ``vid``. The fold join's output is already hash(vid, B)
    (contribs arrives hash(vid, B) from its aggregate), so the new vector is
    not laid out again."""
    kernel = _make_spmv_kernel(scratch)
    vid = _vid_expr(F.col("url"), salt)

    def contribs(x: DataFrame) -> DataFrame:
        # explicit repartition(B, block): the rank vector is tiny (vertex-
        # sized), and AQE would coalesce the groupBy's internal exchange
        # into ONE partition — serializing every block's SpMV kernel through
        # a single Python worker (measured: 127 s/iter instead of ~8 s at
        # 118M edges). A user-specified repartition is preserved by AQE and
        # already satisfies the groupBy's clustering, so the stage keeps B
        # parallel tasks.
        xb = x.select(
            "vid", "rank", _block_of(F.col("vid"), B).alias("block")
        ).repartition(B, "block")
        return (
            xb.groupby("block")
            .applyInPandas(kernel, schema="vid long, c double")
            # explicit repartition: AQE preserves user partition counts, so
            # the aggregate runs exchange-free on top of it and stays aligned
            # with x's hash(vid, B) layout for the fold join
            .repartition(B, "vid")
            .groupBy("vid")
            .agg(F.sum("c").alias("_c"))
        )

    # state saved or built by url: the hash id re-derives deterministically,
    # so a resumed run is bit-exact
    return SpMV("vid", contribs, lambda df: df.withColumn("vid", vid).repartition(B, "vid"))
