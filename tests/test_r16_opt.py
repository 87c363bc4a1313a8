"""Round-16 optimization tests: the concurrent-write SignatureStore
append, the duplicate_span_signals restructure
(projection totals + duplicated-gram-only join), and the binary
internal keys (unhex(md5)) in the rewrite operators."""

import json
import os

import pytest
from pyspark.sql import functions as F


DOCS = [
    (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (3, "one two three four five six seven eight nine ten eleven"),
    (4, "short doc"),
    (5, None),
    (6, ""),
    (7, "alpha beta gamma delta epsilon zeta eta theta different tail"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


class TestSpanSignalsRestructure:
    """total_spans is now a pure projection and dup counting joins only
    the duplicated-gram subset — values must be identical to the old
    join-everything shape (the DuckDB oracle pins the workload; these
    pin the operator edges)."""

    def test_values_match_bruteforce(self, spark):
        from odibi_spark.llm.dedup import duplicate_span_signals

        out = {
            r.doc_id: (r.total_spans, r.dup_spans, r.dup_span_ratio)
            for r in duplicate_span_signals(
                _docs(spark), ngram=8, min_docs=2
            ).collect()
        }
        # brute force in python
        import hashlib

        grams: dict[str, set[int]] = {}
        per_doc: dict[int, list[str]] = {}
        for i, t in DOCS:
            w = (t or "").strip().split(" ") if t is not None else None
            gs = []
            if t is not None and len(w) >= 8:
                for j in range(len(w) - 7):
                    g = hashlib.md5(
                        " ".join(w[j:j + 8]).encode()
                    ).hexdigest()
                    gs.append(g)
                    grams.setdefault(g, set()).add(i)
            per_doc[i] = gs
        for i, _ in DOCS:
            total = len(per_doc[i])
            dup = sum(1 for g in per_doc[i] if len(grams[g]) >= 2)
            ratio = (dup / total) if total else 0.0
            assert out[i] == (total, dup, ratio), i

    def test_schema_types(self, spark):
        from odibi_spark.llm.dedup import duplicate_span_signals

        sch = dict(
            duplicate_span_signals(_docs(spark)).dtypes
        )
        assert sch["total_spans"] == "bigint"
        assert sch["dup_spans"] == "bigint"
        assert sch["dup_span_ratio"] == "double"

    def test_no_text_or_full_gram_table_in_final_join(self, spark):
        """Plan canary (update on Spark upgrades): the duplicated-gram
        side is filtered BEFORE the span join, so the join's right
        side is the ndocs>=min_docs subset, not the full gram table."""
        from odibi_spark.llm.dedup import duplicate_span_signals

        plan = duplicate_span_signals(
            _docs(spark)
        )._jdf.queryExecution().optimizedPlan().toString()
        assert "LeftSemi" in plan
        assert plan.count("count(distinct") <= 2  # one agg (+-AQE rendering)


class TestBinaryInternalKeys:
    def test_boilerplate_rewrite_unchanged(self, spark):
        from odibi_spark.llm.dedup import remove_boilerplate_lines

        df = spark.createDataFrame(
            [
                (1, "keep one\nshared footer\nkeep two"),
                (2, "other body\nshared footer"),
                (3, "unique\nlines\nonly"),
            ],
            "doc_id long, text string",
        )
        out = {
            r.doc_id: (r.text, r.n_kept_lines, r.n_boilerplate_lines)
            for r in remove_boilerplate_lines(df, min_docs=2).collect()
        }
        assert out[1] == ("keep one\nkeep two", 2, 1)
        assert out[2] == ("other body", 1, 1)
        assert out[3] == ("unique\nlines\nonly", 3, 0)

    def test_remove_duplicate_spans_unchanged(self, spark):
        from odibi_spark.llm.dedup import remove_duplicate_spans

        df = spark.createDataFrame(
            [(i, t) for i, t in DOCS if t],
            "doc_id long, text string",
        )
        out = {
            r.doc_id: (r.text, r.n_kept_tokens, r.n_removed_tokens)
            for r in remove_duplicate_spans(
                df, ngram=8, min_docs=2
            ).collect()
        }
        # doc 1 is the keeper (lowest id, pos); docs 2 and 7 lose the
        # covered tokens of their duplicated 8-gram occurrences
        assert out[1][0].startswith("alpha beta gamma")
        assert out[1][1] == 10 and out[1][2] == 0
        assert out[2] == ("", 0, 10)
        # doc 7 shares only the first 8-gram (alpha..theta) with 1/2
        assert out[7] == ("different tail", 2, 8)


class TestAppendOrderingR16:
    """Concurrent sigs/bands writes committed by one log entry: store
    content, geometry adoption and adaptive sizing. The crash windows
    live in test_store_crash.py."""

    def _sigs(self, spark, ids=range(1, 9)):
        from odibi_spark.llm.dedup import minhash_signatures

        df = spark.createDataFrame(
            [(i, f"document number {i} with shared words and body {i}")
             for i in ids],
            "doc_id long, text string",
        )
        return minhash_signatures(df, "doc_id", n=2)

    def test_store_content_matches_reads(self, spark, tmp_path):
        from odibi_spark.llm.incremental import SignatureStore

        store = SignatureStore(spark, str(tmp_path / "s"))
        sigs = self._sigs(spark).localCheckpoint(eager=True)
        store.append(sigs, "b1")
        # entry 0 pins the geometry + resolved buckets
        meta = json.load(open(tmp_path / "s" / "_log" / "0"))["identity"]
        assert meta["n_buckets"] == store.n_buckets == 8
        got = {r.id for r in store.read().collect()}
        assert got == {r.id for r in sigs.collect()}
        bands = store.read_bands()
        assert bands.count() == sigs.count() * 8

    def test_direct_append_adopts_persisted_buckets(self, spark, tmp_path):
        """Second append from a FRESH store object that never called
        check_config must adopt the pinned bucket modulus instead of
        crashing on an unresolved adaptive modulus."""
        from odibi_spark.llm.incremental import SignatureStore

        first = SignatureStore(spark, str(tmp_path / "s"), n_buckets=16)
        first.append(
            self._sigs(spark).localCheckpoint(eager=True), "b1"
        )
        second = SignatureStore(spark, str(tmp_path / "s"))
        assert second.n_buckets is None
        second.append(
            self._sigs(spark, ids=range(9, 14)).localCheckpoint(eager=True),
            "b2",
        )
        assert second.n_buckets == 16
        meta = json.load(open(tmp_path / "s" / "_log" / "0"))["identity"]
        assert meta["n_buckets"] == 16
        # all bands of both batches live under the one modulus
        entries = [
            json.load(open(tmp_path / "s" / "_log" / str(i))) for i in (0, 1)
        ]
        assert [e["batch_id"] for e in entries] == ["b1", "b2"]
        assert all(0 <= b < 16 for e in entries for b in e["parts"])
        assert set(os.listdir(tmp_path / "s" / "data")) == {
            e["data"] for e in entries
        }

    def test_bytes_aware_adaptive_buckets(self, spark, tmp_path):
        """r16 (VERDICT r15 #8): the adaptive modulus sizes buckets on
        estimated bytes (rows x band-row width), not rows alone, and
        entry 0 records the sizing inputs."""
        from odibi_spark.llm.incremental import (
            _adaptive_buckets, _band_row_bytes, SignatureStore,
        )

        # row-width scaling: double the width -> double the buckets
        assert _adaptive_buckets(20_000_000, 20) == 20
        assert _adaptive_buckets(20_000_000, 40) == 40
        # portable band keys are ~wider than xxhash64 keys
        assert _band_row_bytes(True, "portable", 4) > _band_row_bytes(
            True, "xxhash64", 4
        )
        assert _band_row_bytes(False, "xxhash64", 4) > _band_row_bytes(
            True, "xxhash64", 4
        )
        store = SignatureStore(spark, str(tmp_path / "s"))
        store.append(self._sigs(spark).localCheckpoint(eager=True), "b1")
        meta = json.load(open(tmp_path / "s" / "_log" / "0"))["identity"]
        assert meta["band_row_bytes"] == _band_row_bytes(True, "xxhash64", 4)
        assert meta["bucket_target_bytes"] == 20_000_000
