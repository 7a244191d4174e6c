"""Round-13 tests: the writer lock's host:pid record and its
independence from any clock, pid probe or heartbeat (the lock is an
``flock`` since the pid/TTL lease was retired), store compaction for
the frontier/embdedup stores (verdict item 3), the storeio-disciplined
embdedup history probe (item 4), and the wide-band RPHI geometry the
staircase knob prescribes (item 2).
"""

from __future__ import annotations

import os
import threading
import time

import pytest

from tests.conftest import unobservable_kill, writer_lock_holder


def _mk_store(spark, tmp_path, name="store"):
    p = str(tmp_path / name)
    spark.range(10).toDF("v").coalesce(1).write.mode("overwrite").parquet(p)
    return p


# ---------------------------------------------------------------
# the lock's host:pid record (read by the conflict message only)
# ---------------------------------------------------------------


def test_lock_records_hostname_and_pid(tmp_path):
    from projet_etl_spark.sources import ingest

    p = str(tmp_path / "t")
    with ingest._writer_lock(p) as lk:
        host, pid = ingest._lock_ident(lk.lock)
        assert host == ingest._local_host()
        assert pid == os.getpid()
        # legacy accessor still answers with the pid
        assert ingest._writer_lock_holder(lk.lock) == os.getpid()
    assert not os.path.exists(p + "._writerlock")


def test_legacy_bare_pid_lock_parses_as_same_host(tmp_path):
    """A bare-pid lock file left by older code — here naming our own
    live pid — is a file nobody holds locked: it does not block, and
    the next writer takes it over with a ``hostname:pid`` record."""
    from projet_etl_spark.sources import ingest

    p = str(tmp_path / "t")
    lock = p + "._writerlock"
    with open(lock, "w", encoding="utf-8") as fh:
        fh.write(str(os.getpid()))
    with ingest._writer_lock(p) as lk:
        assert lk.owns()
        assert ingest._lock_ident(lock) == (ingest._local_host(), os.getpid())
    assert not os.path.exists(lock)


def test_foreign_host_live_pid_is_not_judged_by_local_pid_table(tmp_path):
    """A live holder whose record names ANOTHER host and a pid absent
    from the local table is still live: liveness is the kernel lock,
    never the record, so the contender conflicts and the holder's
    file survives."""
    from projet_etl_spark.sources import ingest

    p = str(tmp_path / "t")
    lock = p + "._writerlock"
    with writer_lock_holder(p):
        with open(lock, "w", encoding="utf-8") as fh:
            fh.write("not-this-host:999999999")
        with pytest.raises(ingest.StoreWriterConflict):
            with ingest._writer_lock(p):
                pass
        assert ingest._lock_ident(lock) == ("not-this-host", 999999999)


def test_foreign_host_expired_lease_breaks(tmp_path):
    """A foreign-host lock file nobody holds — even one naming a pid
    that IS live locally, aged long past any lease — does not wedge
    the store: the next writer takes it over."""
    from projet_etl_spark.sources import ingest

    p = str(tmp_path / "t")
    lock = p + "._writerlock"
    with open(lock, "w", encoding="utf-8") as fh:
        fh.write(f"not-this-host:{os.getpid()}")  # OUR live pid, wrong host
    old = os.path.getmtime(lock) - 3600
    os.utime(lock, (old, old))
    with ingest._writer_lock(p) as lk:
        assert lk.owns()
    assert not os.path.exists(lock)


# ---------------------------------------------------------------
# no clock: no TTL knob, no heartbeat, no pid probe
# ---------------------------------------------------------------


def test_lease_ttl_env_knob(tmp_path, monkeypatch):
    """The lease TTL knob is gone: ``$SPARK_GRAFT_LEASE_TTL_SEC``,
    whatever its value, neither expires a live holder nor exists as
    an engine setting."""
    from projet_etl_spark.sources import ingest

    p = str(tmp_path / "t")
    with ingest._writer_lock(p) as lk:
        for raw in ("0.001", "bogus", "-3"):
            monkeypatch.setenv("SPARK_GRAFT_LEASE_TTL_SEC", raw)
            time.sleep(0.01)
            with pytest.raises(ingest.StoreWriterConflict):
                with ingest._writer_lock(p):
                    pass
            assert lk.owns()
    for name in ("LEASE_TTL_SEC", "HEARTBEAT_FRACTION", "_lease_ttl"):
        assert not hasattr(ingest, name)


def test_short_ttl_breaks_wedged_holder_on_schedule(tmp_path):
    """A SIGKILLed holder frees the store immediately: the kernel
    drops its lock with the process, so no schedule is involved and
    the file it leaves behind is taken over at once."""
    from projet_etl_spark.sources import ingest

    p = str(tmp_path / "t")
    with writer_lock_holder(p) as holder:
        holder.kill()
        holder.wait()
        assert os.path.exists(p + "._writerlock")  # left behind
        t0 = time.monotonic()
        with ingest._writer_lock(p) as lk:
            assert lk.owns()
        assert time.monotonic() - t0 < 1.0
    assert not os.path.exists(p + "._writerlock")


def test_live_holder_is_never_broken_by_the_clock(tmp_path, monkeypatch):
    """A live holder whose pid cannot be probed, holding well past a
    0.2 s lease, is never broken: every attempt for 0.8 s is refused,
    and once the holder exits the next attempt succeeds at once."""
    from projet_etl_spark.sources import ingest

    p = str(tmp_path / "t")
    monkeypatch.setenv("SPARK_GRAFT_LEASE_TTL_SEC", "0.2")
    with writer_lock_holder(p):
        monkeypatch.setattr(os, "kill", unobservable_kill)
        t0 = time.monotonic()
        while time.monotonic() - t0 < 0.8:
            with pytest.raises(ingest.StoreWriterConflict):
                with ingest._writer_lock(p):
                    pass
            time.sleep(0.02)
    with ingest._writer_lock(p) as lk:  # the holder has exited
        assert lk.owns()


def test_heartbeat_keeps_long_write_tmp_alive(spark, tmp_path, monkeypatch):
    """A publish whose write_tmp outlasts any short lease keeps
    exclusion with no heartbeat: the lock starts no thread, and a
    contender mid-write, with pid probes unobservable and a 0.4 s
    lease knob set, conflicts instead of double-writing
    ._compacting."""
    from projet_etl_spark.sources import ingest

    monkeypatch.setattr(os, "kill", unobservable_kill)
    monkeypatch.setenv("SPARK_GRAFT_LEASE_TTL_SEC", "0.4")
    p = _mk_store(spark, tmp_path, "hb")
    lock = p + "._writerlock"
    threads = threading.active_count()
    observed = {}

    def write_tmp(tmp):
        time.sleep(1.2)
        observed["threads_mid_write"] = threading.active_count()
        with pytest.raises(ingest.StoreWriterConflict):
            with ingest._writer_lock(p):
                pass
        spark.range(3).toDF("v").coalesce(1).write.parquet(tmp)

    ingest.swap_publish(p, write_tmp)
    assert observed["threads_mid_write"] == threads
    assert spark.read.parquet(p).count() == 3
    assert not os.path.exists(lock)


def test_heartbeat_stops_touching_after_release(tmp_path):
    """Release never touches a lock file that replaced ours behind our
    back: same inode, same content, same mtime after our exit."""
    from projet_etl_spark.sources import ingest

    p = str(tmp_path / "t")
    lk = ingest._writer_lock(p)
    lk.__enter__()
    os.remove(lk.lock)  # ours removed behind the protocol's back
    with open(lk.lock, "w", encoding="utf-8") as fh:
        fh.write("somewhere-else:4242")
    old = os.path.getmtime(lk.lock) - 60
    os.utime(lk.lock, (old, old))
    before = os.stat(lk.lock)
    try:
        assert not lk.owns()
        lk.__exit__(None, None, None)
        after = os.stat(lk.lock)
        assert (after.st_ino, after.st_mtime_ns) == (before.st_ino, before.st_mtime_ns)
        assert ingest._lock_ident(lk.lock) == ("somewhere-else", 4242)
    finally:
        os.remove(lk.lock)


# ---------------------------------------------------------------
# embdedup history probe through storeio (r12 verdict item 4)
# ---------------------------------------------------------------


def test_embdedup_absent_history_is_first_batch_path(spark, tmp_path):
    """A genuinely-absent bands store is the legitimate first-batch
    case: batch x batch pairs still emit, nothing raises."""
    from pyspark.sql import functions as F

    from projet_etl_spark.operators.dedup import planted_embeddings
    from projet_etl_spark.streaming.embdedup import (
        emb_dedup_batch,
        read_emb_pairs,
    )
    from tests.conftest import SF_SMALL

    store = str(tmp_path / "store")
    pairs = str(tmp_path / "pairs")
    corpus = planted_embeddings(spark, SF_SMALL)
    # one batch holding BOTH sides of a few true pairs: originals
    # 0,3,...,39 and their twins PLANT_OFFSET+0,+3,...,+39
    base = F.col("vec_id") % 10_000_000
    b0 = corpus.filter((base < 40) & (base % 3 == 0))
    emb_dedup_batch(b0, 0, store, pairs)
    got = read_emb_pairs(spark, pairs).collect()
    assert got  # batch x batch pairs found with no history store


def test_embdedup_drifted_history_raises_not_skips(spark, tmp_path):
    """The storeio discipline on the WRITER-side history probe: a
    bands store that exists but is schema-drifted (the stand-in for
    unreadable/corrupt) must RAISE — the old bare os.path.exists
    probe silently skipped history pairing, permanently missing
    cross-batch true pairs."""
    import os as _os

    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    from projet_etl_spark.operators.dedup import planted_embeddings
    from projet_etl_spark.streaming.embdedup import emb_dedup_batch
    from tests.conftest import SF_SMALL

    store = str(tmp_path / "store")
    pairs = str(tmp_path / "pairs")
    _os.makedirs(store, exist_ok=True)
    spark.createDataFrame([(1,)], "wrong long").write.parquet(
        _os.path.join(store, "bands")
    )
    b0 = planted_embeddings(spark, SF_SMALL).filter(
        (F.col("vec_id") % 3 == 0) & (F.col("vec_id") % 10_000_000 < 40)
    )
    with pytest.raises(AnalysisException):
        emb_dedup_batch(b0, 1, store, pairs)


# ---------------------------------------------------------------
# frontier / embdedup store compaction (r12 verdict item 3)
# ---------------------------------------------------------------


def _batch_dirs(path):
    return sorted(
        d for d in os.listdir(path) if d.startswith("batch=")
    )


def test_frontier_compaction_is_read_invariant(spark, tmp_path):
    """Folding the committed (url, snap) partials must not change the
    folded frontier: min-of-mins and sum-of-counts over partials that
    partition the fetch set."""
    from projet_etl_spark.streaming.frontier import (
        compact_frontier_store,
        read_url_frontier,
        upsert_frontier_batch,
    )
    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select("doc_id")
    store = str(tmp_path / "frontier")
    # three batches carving the fetch log so the SAME url recurs
    # across batches (doc_id mod 3 slices cut across PAGE_MOD pages)
    for b in range(3):
        upsert_frontier_batch(docs.filter(docs.doc_id % 3 == b), b, store)
    before = sorted(
        tuple(r) for r in read_url_frontier(spark, store).collect()
    )
    assert before
    n = compact_frontier_store(spark, store)
    assert n > 0
    after = sorted(
        tuple(r) for r in read_url_frontier(spark, store).collect()
    )
    assert before == after
    # layout: only the reserved partition and the newest batch remain
    assert _batch_dirs(store) == ["batch=-1", "batch=2"]
    # idempotent: compacting again changes nothing
    compact_frontier_store(spark, store)
    again = sorted(
        tuple(r) for r in read_url_frontier(spark, store).collect()
    )
    assert before == again


def test_embdedup_compaction_is_read_invariant_and_resumable(spark, tmp_path):
    """Folding pairs/bands/vecs must not change the served pairs, and
    a LATER batch must still find its twins in the FOLDED history
    (batch -1 satisfies batch < current)."""
    from pyspark.sql import functions as F

    from projet_etl_spark.operators.dedup import planted_embeddings
    from projet_etl_spark.streaming.embdedup import (
        compact_emb_dedup_store,
        emb_dedup_batch,
        read_emb_pairs,
    )
    from tests.conftest import SF_SMALL

    store = str(tmp_path / "store")
    pairs = str(tmp_path / "pairs")
    corpus = planted_embeddings(spark, SF_SMALL)
    base = F.col("vec_id") % 10_000_000
    orig = F.col("vec_id") < 10_000_000
    # batches 0-1: originals only (no pairs yet); batch 2: twins of
    # batch 0's vectors
    emb_dedup_batch(corpus.filter(orig & (base < 15)), 0, store, pairs)
    emb_dedup_batch(
        corpus.filter(orig & (base >= 15) & (base < 30)), 1, store, pairs
    )
    emb_dedup_batch(
        corpus.filter(~orig & (base < 15)), 2, store, pairs
    )
    before = sorted(tuple(r) for r in read_emb_pairs(spark, pairs).collect())
    assert before  # cross-batch twins found pre-compaction
    counts = compact_emb_dedup_store(spark, store, pairs)
    assert counts["pairs"] == len(before)
    after = sorted(tuple(r) for r in read_emb_pairs(spark, pairs).collect())
    assert before == after
    assert _batch_dirs(os.path.join(store, "bands")) == [
        "batch=-1",
        "batch=2",
    ]
    # resume: batch 3 brings twins of batch 1's vectors — their
    # originals now live in the FOLDED partition
    emb_dedup_batch(
        corpus.filter(~orig & (base >= 15) & (base < 30)), 3, store, pairs
    )
    resumed = sorted(
        tuple(r) for r in read_emb_pairs(spark, pairs).collect()
    )
    assert len(resumed) > len(before)
    new_pairs = [p for p in resumed if p not in before]
    assert all(15 <= a % 10_000_000 < 30 for a, _b, _c in new_pairs)


# ---------------------------------------------------------------
# wide-band RPHI geometry (r12 verdict item 2)
# ---------------------------------------------------------------


def test_wide_geometry_is_the_knobs_choice():
    """The committed WIDE constants can't drift from the staircase:
    they are exactly rphi_geometry_for(RPHI_WIDE_N), and the fixture
    geometry satisfies the same recall algebra with margin."""
    from projet_etl_spark.operators import dedup

    assert (
        dedup.RPHI_WIDE_BANDS,
        dedup.RPHI_WIDE_BAND_BITS,
    ) == dedup.rphi_geometry_for(dedup.RPHI_WIDE_N)
    assert dedup.RPHI_WIDE_BAND_BITS == dedup.rphi_band_bits_for(
        dedup.RPHI_WIDE_N
    )
    assert dedup.RPHI_WIDE_BAND_BITS > dedup.RPHI_BAND_BITS  # it moved
    # the fixture geometry passes the same design check with margin
    assert dedup.rphi_bands_for(dedup.RPHI_BAND_BITS) <= dedup.RPHI_BANDS
    # theoretical recall at the design point clears the target at the
    # WIDE geometry too (the band count is chosen to restore it)
    import math

    p = 1.0 - math.acos(dedup.RPHI_DESIGN_COS) / math.pi
    theo = 1.0 - (1.0 - p**dedup.RPHI_WIDE_BAND_BITS) ** dedup.RPHI_WIDE_BANDS
    assert theo >= dedup.RPHI_RECALL_TARGET


def test_wide_geometry_recall_on_planted_corpus(spark):
    """Knob-chosen-width recall, MEASURED on the planted corpus (the
    verdict's 'pytest pinning knob-chosen-width recall'): the audit
    block covers the whole planted table at this SF, so the number is
    exact — and it must clear the deployment gate."""
    from projet_etl_spark.operators import dedup
    from tests.conftest import SF_SMALL

    r = dedup.q_embedding_lsh_recall_hi_wide(spark, SF_SMALL).collect()[0]
    assert r.n_true_pairs > 100  # the plant device is active
    assert r.recall >= dedup.RPHI_RECALL_TARGET


def test_wide_bands_cut_chance_candidate_mass(spark):
    """What the wider bands BUY: the banded candidate set at the wide
    geometry is no larger than at the fixture geometry (the chance
    term drops by ~2^-(wide-16) per band while the true pairs stay),
    and both contain every true pair the verify stage keeps."""
    from pyspark.sql import functions as F

    from projet_etl_spark.operators import dedup
    from tests.conftest import SF_SMALL

    withn = dedup.planted_embeddings(spark, SF_SMALL)

    def n_cands(bands_n, bits):
        b = dedup._rphi_band_keys(withn, bands_n, bits)
        left = b.select(F.col("vec_id").alias("vec_a"), "band", "key")
        right = b.select(F.col("vec_id").alias("vec_b"), "band", "key")
        return (
            left.join(right, ["band", "key"])
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b")
            .distinct()
            .count()
        )

    wide = n_cands(dedup.RPHI_WIDE_BANDS, dedup.RPHI_WIDE_BAND_BITS)
    fixture = n_cands(dedup.RPHI_BANDS, dedup.RPHI_BAND_BITS)
    assert wide <= fixture


def test_embdedup_version_token_tracks_geometry(monkeypatch):
    """A geometry (or plant-offset) change must invalidate the staged
    embdedup sink: the version token folds every constant the pair
    set depends on (r12 advisor low: PLANT_OFFSET included)."""
    from projet_etl_spark.operators import dedup
    from projet_etl_spark.streaming import storequery

    base = storequery._embdedup_version("v1")
    for const, val in [
        ("RPHI_BAND_BITS", 21),
        ("RPHI_BITS", 294),
        ("PLANT_OFFSET", 20_000_000),
        ("PLANT_MOD", 5),
        ("HI_COSINE_THRESHOLD", 0.9),
    ]:
        monkeypatch.setattr(dedup, const, val)
        assert storequery._embdedup_version("v1") != base
        monkeypatch.undo()
    # and the compacted twin stages under a DIFFERENT token namespace
    assert storequery._embdedup_version("compacted-v1") != base


# ---------------------------------------------------------------
# partition-disjoint sharded dedup (r13)
# ---------------------------------------------------------------


def test_sharded_pairs_are_a_subset_of_hi_pairs(spark):
    """Sharding can only LOSE pairs (verification is the identical
    exact fold); every sharded pair must appear in the unsharded hi
    result with the same cosine."""
    from projet_etl_spark.operators import dedup
    from tests.conftest import SF_SMALL

    hi = {
        (r.vec_a, r.vec_b): r.cos
        for r in dedup.q_dedup_embedding_lsh_hi(spark, SF_SMALL).collect()
    }
    sharded = {
        (r.vec_a, r.vec_b): r.cos
        for r in dedup.q_dedup_embedding_lsh_hi_sharded(
            spark, SF_SMALL
        ).collect()
    }
    assert sharded  # multi-probe replication finds pairs
    assert set(sharded) <= set(hi)
    assert all(hi[k] == v for k, v in sharded.items())


def test_shard_recall_clears_gate_at_two_probes(spark):
    """The measured price of partition-disjoint sharding on the
    planted corpus: with SHARD_NPROBE = 2 replication the audit must
    clear the deployment recall gate (1-probe co-location is ~0.80
    on this fixture — the multi-probe replication is load-bearing,
    which is exactly what this pin documents)."""
    from projet_etl_spark.operators import dedup
    from tests.conftest import SF_SMALL

    assert dedup.SHARD_NPROBE >= 2
    r = dedup.q_embedding_shard_recall(spark, SF_SMALL).collect()[0]
    assert r.n_true_pairs > 100
    assert r.recall >= dedup.RPHI_RECALL_TARGET


def test_shard_replication_factor_is_bounded(spark):
    """Each vector lands in exactly min(SHARD_NPROBE, |cells|) cells
    — the storage cost of replication is the constant the docstring
    promises, not data-dependent."""
    from pyspark.sql import functions as F

    from projet_etl_spark.operators import dedup
    from tests.conftest import SF_SMALL

    withn = dedup.planted_embeddings(spark, SF_SMALL).withColumn(
        "n2", dedup.fold_norm2("v")
    )
    cells = dedup._shard_cells(spark, SF_SMALL, withn)
    per_vec = cells.groupBy("vec_id").agg(F.count(F.lit(1)).alias("k"))
    ks = {r.k for r in per_vec.select("k").distinct().collect()}
    assert ks == {dedup.SHARD_NPROBE}
