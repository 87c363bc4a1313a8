"""Crash injection at every write boundary of the three stores that
share the commit log (odibi_spark.io.batch_log): the MinHash
SignatureStore, the AnnIndexStore and the CMS fold.

Each case crashes one write, checks that nothing the crash wrote is
visible, replays the batch, and compares the result with the run that
never crashed. The happy path and one crash case per store also run
against a ``file://`` URI, so the stores are exercised through the
Hadoop FileSystem API rather than POSIX paths."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import DataFrameWriter, Row

from odibi_spark.io import batch_log
from odibi_spark.llm import cms
from odibi_spark.llm.ann_store import AnnIndexStore, run_incremental_ann
from odibi_spark.llm.incremental import SignatureStore, run_incremental_dedup
from odibi_spark.patterns.aggregation import cms_incremental, cms_state_read
from odibi_spark.state.hwm import JsonStateBackend


class Crash(RuntimeError):
    pass


def _local(path: str) -> str:
    return path[len("file://"):] if path.startswith("file://") else path


def _root(tmp_path, kind: str) -> str:
    return tmp_path.as_uri() if kind == "uri" else str(tmp_path)


def crash_writing(mp, leaf: str) -> None:
    """A parquet write whose last path component is ``leaf`` dies
    before it writes anything; every other write proceeds."""
    real = DataFrameWriter.parquet

    def spy(self, path, *a, **kw):
        if path.rstrip("/").rsplit("/", 1)[-1] == leaf:
            raise Crash(f"crashed writing {path}")
        return real(self, path, *a, **kw)

    mp.setattr(DataFrameWriter, "parquet", spy)


def crash_committing(mp, *, seq: int, after: bool = False) -> None:
    """Log entry ``seq`` dies before its rename (leaving a torn temp
    file in ``_log/``) or, with ``after``, right after it lands."""
    real = batch_log.write_atomic

    def spy(spark, path, text):
        if not path.endswith(f"/_log/{seq}"):
            return real(spark, path, text)
        if after:
            real(spark, path, text)
        else:
            log_dir = _local(path).rsplit("/", 1)[0]
            os.makedirs(log_dir, exist_ok=True)
            with open(f"{log_dir}/.{seq}.crashed.tmp", "w") as fh:
                fh.write(text[: len(text) // 2])
        raise Crash(f"crashed committing {path}")

    mp.setattr(batch_log, "write_atomic", spy)


def _data_dirs(store_root: str) -> set[str]:
    return set(os.listdir(_local(store_root) + "/data"))


# -- SignatureStore --------------------------------------------------------

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog today"),
    (2, "an entirely different document about spark pipelines here"),
    (3, "the quick brown fox jumps over the lazy dog tonight"),  # ~dup of 1
    (4, "yet another unrelated text with its own words only"),
    (5, "the quick brown fox leaps over the lazy dog tonight"),  # ~dup of 3
]
# b2 passes the FULL source through the HWM filter
SCHEDULE = (("b1", "doc_id <= 3"), ("b2", "doc_id <= 5"))
DEDUP_KW = dict(threshold=0.4, n=2, num_perm=32, bands=8)


def _dedup(spark, root, state_path, batch_id, where, **store_kw):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    flagged = run_incremental_dedup(
        df.filter(where), SignatureStore(spark, f"{root}/sigs", **store_kw),
        JsonStateBackend(state_path), batch_id=batch_id, **DEDUP_KW,
    )
    return {r.doc_id: r.is_dup for r in flagged.collect()}


@pytest.fixture(scope="module")
def clean_flags(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("clean_dedup")
    flags = {}
    for bid, where in SCHEDULE:
        flags.update(
            _dedup(spark, str(tmp), str(tmp / "hwm.json"), bid, where)
        )
    return flags


def _sig_inject(mp, boundary, seq):
    if boundary == "sigs_landed":
        crash_writing(mp, "bands")
    elif boundary == "bands_landed_sigs_failed":
        crash_writing(mp, "sigs")
    elif boundary == "data_landed_before_entry":
        crash_committing(mp, seq=seq)
    else:  # entry_before_hwm

        def boom(self, key, value):
            raise Crash("crashed committing the HWM")

        mp.setattr(JsonStateBackend, "set", boom)


SIG_BOUNDARIES = [
    "sigs_landed", "bands_landed_sigs_failed",
    "data_landed_before_entry", "entry_before_hwm",
]


def _sig_crash_replay(spark, tmp_path, kind, boundary, crash_batch):
    root = _root(tmp_path, kind)
    state_path = str(tmp_path / "hwm.json")
    flags = {}
    for seq, (bid, where) in enumerate(SCHEDULE):
        if bid == crash_batch:
            with pytest.MonkeyPatch.context() as mp:
                _sig_inject(mp, boundary, seq)
                with pytest.raises(Crash):
                    # the crashed process pinned 16 buckets; the replay
                    # below is adaptive (ADVICE r16: bands that landed
                    # next to a failed sigs write must not survive a
                    # replay under another modulus)
                    _dedup(spark, root, state_path, bid, where, n_buckets=16)
            store = SignatureStore(spark, f"{root}/sigs")
            if boundary != "entry_before_hwm":
                # nothing the crashed write left is visible
                if bid == "b1":
                    assert not store.exists()
                    assert store.read() is None
                    assert store.read_bands() is None
                else:
                    assert store.read().count() == 3  # b1's only
                    assert store.read_bands().count() == 3 * 8
        flags.update(_dedup(spark, root, state_path, bid, where))
    return root, flags


@pytest.mark.parametrize("crash_batch", ["b1", "b2"])
@pytest.mark.parametrize("boundary", SIG_BOUNDARIES)
def test_signature_store_crash_replay(
    spark, tmp_path, clean_flags, boundary, crash_batch
):
    root, flags = _sig_crash_replay(
        spark, tmp_path, "path", boundary, crash_batch
    )
    assert flags == clean_flags
    store = SignatureStore(spark, f"{root}/sigs")
    sigs = store.read()
    assert sigs.count() == sigs.select("id").distinct().count() == 5
    assert store.read_bands().count() == sigs.count() * 8
    # the replay's commit swept every directory no live entry names
    assert len(_data_dirs(f"{root}/sigs")) == 2


@pytest.mark.parametrize(
    "boundary", [None, "bands_landed_sigs_failed"], ids=["happy", "crash"]
)
def test_signature_store_on_file_uri(spark, tmp_path, clean_flags, boundary):
    root = _root(tmp_path, "uri")
    if boundary is None:
        flags = {}
        for bid, where in SCHEDULE:
            flags.update(
                _dedup(spark, root, str(tmp_path / "hwm.json"), bid, where)
            )
    else:
        root, flags = _sig_crash_replay(spark, tmp_path, "uri", boundary, "b1")
    assert flags == clean_flags
    store = SignatureStore(spark, f"{root}/sigs")
    assert store.read_bands().count() == store.read().count() * 8 == 40


def test_rerun_past_the_hwm_keeps_the_batch(spark, tmp_path):
    """Rerunning a committed batch after its HWM moved reads an empty
    delta; that empty append must not supersede the batch's data."""
    state_path = str(tmp_path / "hwm.json")
    for bid, where in SCHEDULE + SCHEDULE[:1]:
        _dedup(spark, str(tmp_path), state_path, bid, where)
    store = SignatureStore(spark, f"{tmp_path}/sigs")
    assert store.read_bands().count() == store.read().count() * 8 == 40


# -- AnnIndexStore ---------------------------------------------------------

GEO = dict(nlist=4, nprobe=2, m=8, k=8, dim=64)


def _vecs(spark):
    rng = np.random.default_rng(11)
    V = rng.standard_normal((60, 64))
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(V)],
        "vec_id long, embedding array<float>",
    )


def _ann_lifecycle(spark, root, state_path):
    """Train on batch 1, ingest batch 1 then the full corpus through
    the HWM filter; a rerun after a crash resumes where it died."""
    df = _vecs(spark)
    b1 = df.filter("vec_id < 30")
    store = AnnIndexStore(spark, f"{root}/idx", **GEO)
    if not store.exists():
        store.build(b1, "vec_id", "embedding")
    state = JsonStateBackend(state_path)
    for bid, part in (("b1", b1), ("b2", df)):
        run_incremental_ann(
            part, store, state, id_col="vec_id", vec_col="embedding",
            batch_id=bid,
        )
    return store


def _ann_result(store, spark):
    probe = store.probe(
        _vecs(spark).filter("vec_id < 5"), "vec_id", "embedding", topk=5
    )
    codes = store.read_codes()
    return (
        sorted(map(tuple, probe.collect())),
        sorted((r.nbr_id, r.cell, tuple(r.pq_codes)) for r in codes.collect()),
    )


@pytest.fixture(scope="module")
def clean_ann(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("clean_ann")
    return _ann_result(
        _ann_lifecycle(spark, str(tmp), str(tmp / "hwm.json")), spark
    )


# entry 0 is the build, 1 the b1 append, 2 the b2 append
ANN_BOUNDARIES = {"build_before_entry0": 0, "append_before_entry": 2}


def _ann_crash_replay(spark, tmp_path, kind, seq):
    root = _root(tmp_path, kind)
    state_path = str(tmp_path / "hwm.json")
    with pytest.MonkeyPatch.context() as mp:
        crash_committing(mp, seq=seq)
        with pytest.raises(Crash):
            _ann_lifecycle(spark, root, state_path)
    store = AnnIndexStore(spark, f"{root}/idx", **GEO)
    if seq == 0:
        assert not store.exists()
    else:
        assert store.read_codes().count() == 30  # b2's codes are invisible
    return _ann_lifecycle(spark, root, state_path)


@pytest.mark.parametrize("boundary", list(ANN_BOUNDARIES))
def test_ann_store_crash_replay(spark, tmp_path, clean_ann, boundary):
    store = _ann_crash_replay(
        spark, tmp_path, "path", ANN_BOUNDARIES[boundary]
    )
    assert _ann_result(store, spark) == clean_ann
    assert len(clean_ann[1]) == 60  # one code row per vector


@pytest.mark.parametrize("crash", [False, True], ids=["happy", "crash"])
def test_ann_store_on_file_uri(spark, tmp_path, clean_ann, crash):
    state_path = str(tmp_path / "hwm.json")
    if crash:
        store = _ann_crash_replay(spark, tmp_path, "uri", seq=2)
    else:
        store = _ann_lifecycle(spark, _root(tmp_path, "uri"), state_path)
    assert _ann_result(store, spark) == clean_ann


# -- CMS fold --------------------------------------------------------------

CMS_KW = dict(key_col="tok", width=16, depth=2, seed=4)
CMS_BATCHES = (["a", "a", "b"], ["b", "c", "c", "c"], ["a", "d"])


def _toks(spark, toks):
    return spark.createDataFrame([Row(tok=t) for t in toks])


def _fold(spark, root, bid):
    return cms_incremental(
        spark, _toks(spark, CMS_BATCHES[bid]),
        target_path=f"{root}/cms", batch_id=bid, **CMS_KW,
    )


def _cms_crash_replay(spark, tmp_path, kind, after):
    root = _root(tmp_path, kind)
    _fold(spark, root, 0)
    with pytest.MonkeyPatch.context() as mp:
        crash_committing(mp, seq=1, after=after)
        with pytest.raises(Crash):
            _fold(spark, root, 1)
    # the last committed entry names the state the crash left visible
    folded = CMS_BATCHES[0] + (CMS_BATCHES[1] if after else [])
    assert _rows(cms_state_read(spark, f"{root}/cms")) == _rows(
        cms.cms_build(_toks(spark, folded), **CMS_KW)
    )
    # retry the crashed epoch (skipped when its entry had committed),
    # then fold the next one
    _fold(spark, root, 1)
    _fold(spark, root, 2)
    return root


@pytest.mark.parametrize(
    "after", [False, True],
    ids=["state_before_entry", "entry_before_sweep"],
)
def test_cms_fold_crash_replay(spark, tmp_path, after):
    root = _cms_crash_replay(spark, tmp_path, "path", after)
    _check_cms(spark, root)


@pytest.mark.parametrize("crash", [False, True], ids=["happy", "crash"])
def test_cms_fold_on_file_uri(spark, tmp_path, crash):
    if crash:
        root = _cms_crash_replay(spark, tmp_path, "uri", after=False)
    else:
        root = _root(tmp_path, "uri")
        for bid in range(len(CMS_BATCHES)):
            _fold(spark, root, bid)
    _check_cms(spark, root)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _check_cms(spark, root):
    assert _rows(cms_state_read(spark, f"{root}/cms")) == _rows(
        cms.cms_build(_toks(spark, sum(CMS_BATCHES, [])), **CMS_KW)
    )
    # only the state the last entry names survives the sweep
    assert len(_data_dirs(f"{root}/cms")) == 1
    last = sorted(
        int(n) for n in os.listdir(_local(root) + "/cms/_log") if n.isdigit()
    )[-1]
    entry = json.load(open(f"{_local(root)}/cms/_log/{last}"))
    assert (entry["version"], entry["last_batch_id"]) == (2, 2)


# -- pre-log layouts -------------------------------------------------------


@pytest.mark.parametrize(
    "meta", ["_store_meta.json", "_index_meta.json", "_cms_meta.json"]
)
def test_pre_log_layout_refused(spark, tmp_path, meta):
    """A directory holding a pre-log meta file but no ``_log/`` has no
    migration path: every store refuses it with a rebuild hint."""
    (tmp_path / meta).write_text("{}")
    with pytest.raises(ValueError, match="rebuild the store by replaying"):
        if meta == "_store_meta.json":
            SignatureStore(spark, str(tmp_path)).read()
        elif meta == "_index_meta.json":
            AnnIndexStore(spark, str(tmp_path), **GEO).check_config()
        else:
            cms_incremental(
                spark, _toks(spark, ["a"]), target_path=str(tmp_path),
                **CMS_KW,
            )

