"""Dedup operator behavior on planted near-duplicates.

The synthetic documents table has almost no true near-dups, so these tests
build a corpus with known duplicate structure and assert recall/precision
properties of the hash-family operators against exact Jaccard.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from redis_dataflow_realtime_analytics_spark.operators import dedup

from .conftest import SF_SMOKE

WORDS = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike november".split()


def _corpus(spark):
    """60 docs: 20 base docs, each with one exact copy and one near-copy
    (single token changed)."""
    rng = random.Random(7)
    rows = []
    doc_id = 0
    for base in range(20):
        toks = [rng.choice(WORDS) for _ in range(40)]
        text = " ".join(toks)
        near = list(toks)
        near[rng.randrange(len(near))] = "zulu"
        rows.append((doc_id, text))          # base
        rows.append((doc_id + 1, text))      # exact dup
        rows.append((doc_id + 2, " ".join(near)))  # near dup
        doc_id += 3
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """Write the planted corpus as a documents.parquet so the (spark, sf_dir)
    operator signatures work unchanged."""
    d = tmp_path_factory.mktemp("dedup_sf")
    _corpus(spark).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def test_exact_dedup(spark, corpus):
    groups = dedup.exact_dedup_groups(spark, corpus).collect()
    # 20 groups of size 2 (base + exact copy), 20 singleton near-dups
    assert sum(1 for g in groups if g.n_docs == 2) == 20
    assert sum(1 for g in groups if g.n_docs == 1) == 20
    survivors = dedup.dedup_documents(spark, corpus).count()
    assert survivors == 40


def test_minhash_recall_of_planted_pairs(spark, corpus):
    pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_neardup_pairs(spark, corpus, threshold=0.5).collect()
    }
    # every exact-dup pair (jaccard 1.0) must be found
    exact_pairs = {(i, i + 1) for i in range(0, 60, 3)}
    assert exact_pairs <= pairs, f"missing {exact_pairs - pairs}"
    # near-dup pairs (1 token of 40 changed → shingle jaccard ≈ 0.86) —
    # expect high recall, allow an LSH miss or two
    near_pairs = {(i, i + 2) for i in range(0, 60, 3)}
    found_near = len(near_pairs & pairs)
    assert found_near >= 18, f"minhash recall too low: {found_near}/20"


def test_minhash_estimates_track_true_jaccard(spark, corpus):
    rows = dedup.minhash_neardup_pairs(spark, corpus, threshold=0.5).collect()
    exact_pairs = {(i, i + 1) for i in range(0, 60, 3)}
    for r in rows:
        if (r.doc_a, r.doc_b) in exact_pairs:
            assert r.est_jaccard == 1.0


def test_simhash_finds_exact_dups(spark, corpus):
    pairs = dedup.simhash_neardup_pairs(spark, corpus, max_hamming=3).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    exact_pairs = {(i, i + 1) for i in range(0, 60, 3)}
    assert exact_pairs <= found
    for r in pairs:
        if (r.doc_a, r.doc_b) in exact_pairs:
            assert r.hamming == 0


def test_ngram_jaccard_exactness(spark, corpus):
    rows = dedup.ngram_jaccard_pairs(spark, corpus, threshold=0.5).collect()
    vals = {(r.doc_a, r.doc_b): r.jaccard for r in rows}
    for i in range(0, 60, 3):
        assert vals[(i, i + 1)] == 1.0  # exact copies
        # near-copy: 1 token changed in 40 → at most 3 of 38 shingles differ
        assert vals[(i, i + 2)] > 0.7


def test_jaccard_stop_shingle_cap_is_precision_preserving(spark):
    """With a df cap, output pairs are a subset of the exact pairs and
    every emitted jaccard is ≤ the exact value for that pair (true set
    sizes + undercounted intersection)."""
    from redis_dataflow_realtime_analytics_spark.operators import dedup

    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(spark, SF_SMOKE).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            spark, SF_SMOKE, max_shingle_df=5
        ).collect()
    }
    assert set(capped) <= set(exact)
    for pair, j in capped.items():
        assert j <= exact[pair] + 1e-12
    # a generous cap changes nothing
    uncapped_hi = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            spark, SF_SMOKE, max_shingle_df=10**9
        ).collect()
    }
    assert uncapped_hi == exact


def test_lsh_exact_jaccard_precision_one(spark):
    """Every pair the two-stage operator emits must appear in the full
    quadratic exact result with the identical jaccard value; recall is
    reported by the banding probability, not asserted exactly."""
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(spark, SF_SMOKE, threshold=0.5).collect()
    }
    staged = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.lsh_exact_jaccard_pairs(spark, SF_SMOKE, threshold=0.5).collect()
    }
    assert set(staged) <= set(exact)
    for pair, j in staged.items():
        assert abs(j - exact[pair]) < 1e-12
    if exact:  # LSH banding at 8x4 should catch most >=0.5 pairs
        assert len(staged) / len(exact) >= 0.5


def test_connected_components_chain(spark):
    """A 5-node path graph (worst-case diameter for propagation) plus a
    triangle and an isolated edge all collapse to min-label components."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["doc_a", "doc_b"],
    )
    got = {
        (r.doc_id, r.component_id)
        for r in dedup.connected_components(edges).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_neardup_components_cluster_planted_dups(spark, corpus):
    """Each planted (base, exact-copy, near-copy) triple lands in one
    component labeled by the base doc_id; survivors = 20 canonical docs."""
    comp = dedup.neardup_components(spark, corpus).collect()
    by_comp: dict[int, set[int]] = {}
    for r in comp:
        by_comp.setdefault(r.component_id, set()).add(r.doc_id)
    assert len(by_comp) == 20
    for label, members in by_comp.items():
        assert label % 3 == 0
        assert members == {label, label + 1, label + 2}
    survivors = {r.doc_id for r in dedup.neardup_survivors(spark, corpus).collect()}
    assert survivors == {3 * i for i in range(20)}


def test_lsh_components_match_exact_on_planted_dups(spark, corpus):
    """On the planted corpus every true pair's Jaccard is far above the
    LSH threshold (recall ~ 1), so the sub-quadratic LSH clustering equals
    the exact-edge clustering."""
    exact = {
        (r.doc_id, r.component_id)
        for r in dedup.neardup_components(spark, corpus).collect()
    }
    lsh = {
        (r.doc_id, r.component_id)
        for r in dedup.lsh_components(spark, corpus).collect()
    }
    assert lsh == exact


def test_incremental_neardup_flags_planted_replicas(spark, corpus):
    # incoming = doc_id % 10 == 0 -> docs 0..50 step 10; in the planted
    # corpus every one of them is a base, an exact copy, or a near copy,
    # so each must be flagged against the existing corpus
    out = {r.doc_id: r for r in dedup.incremental_neardup_candidates(spark, corpus).collect()}
    assert set(out) == {0, 10, 20, 30, 40, 50}
    for r in out.values():
        assert r.neardup_of % 10 != 0          # matched an EXISTING doc
        assert 0.5 <= r.est_jaccard <= 1.0
    # exact-copy pairs estimate Jaccard 1.0
    for doc_id in (0, 10, 40):  # 0=base w/ exact dup 1; 10,40 are exact copies
        assert out[doc_id].est_jaccard == 1.0


def test_duplicate_spans_on_planted_corpus(spark, corpus):
    """In the planted corpus every base doc has an exact copy, so base and
    copy have dup_span_frac == 1.0; the near-copy (one token changed) keeps
    every window NOT covering the changed token, so its frac sits strictly
    between 0 and 1 (40 tokens, window 8 ⇒ at most 8 of 33 windows die)."""
    rows = {r.doc_id: r for r in dedup.duplicate_spans(spark, corpus).collect()}
    assert len(rows) == 60
    for base in range(0, 60, 3):
        assert rows[base].dup_span_frac == 1.0, f"doc {base} (base)"
        assert rows[base + 1].dup_span_frac == 1.0, f"doc {base + 1} (copy)"
        near = rows[base + 2]
        assert 0.0 < near.dup_span_frac < 1.0, f"doc {base + 2} (near)"
        assert near.n_dup_spans + 8 >= near.n_spans, f"doc {base + 2} lost too many"


def test_decontamination_flags_planted_leakage(spark, corpus):
    """benchmark slice = doc_id % 20 == 0 -> {0, 20, 40}. In the planted
    corpus those are: base 0 (exact copy 1, near copy 2), near-copy 20
    (of base 18, exact copy 19), exact-copy 40 (of base 39, near copy 41).
    All six counterparts share long verbatim shingles with the benchmark
    slice and must be flagged."""
    out = {r.doc_id: r for r in dedup.decontamination_hits(spark, corpus).collect()}
    planted = {1, 2, 18, 19, 39, 41}
    assert planted <= set(out), f"missing planted leaks: {planted - set(out)}"
    # copies of a benchmark doc share (almost) the whole shingle set:
    # exact copies all 36 distinct 5-gram shingles, near copies all but <=5
    for doc_id in planted:
        assert out[doc_id].n_shared_shingles >= 25
        assert out[doc_id].n_benchmark_docs_hit >= 1


def test_bloom_decontamination_equals_exact(spark, corpus):
    """The Bloom probe only PRUNES — false positives die in the exact
    string join — so the bloom twin's output must equal the exact
    operator's row-for-row (they share one oracle in the registry)."""
    exact = {
        (r.doc_id, r.n_shared_shingles, r.n_benchmark_docs_hit)
        for r in dedup.decontamination_hits(spark, corpus).collect()
    }
    bloom = {
        (r.doc_id, r.n_shared_shingles, r.n_benchmark_docs_hit)
        for r in dedup.decontamination_hits_bloom(spark, corpus).collect()
    }
    assert bloom == exact


def test_bloom_decontamination_tiny_filter_still_exact(spark, corpus):
    """Even a deliberately saturated bitmap (64 bits, 1 hash — high false-
    positive rate) must not change the result: the exact join is the
    correctness gate, the Bloom stage only affects how much work reaches
    it."""
    exact = {r.doc_id for r in dedup.decontamination_hits(spark, corpus).collect()}
    bloom = {
        r.doc_id
        for r in dedup.decontamination_hits_bloom(
            spark, corpus, m_bits=64, n_hashes=1
        ).collect()
    }
    assert bloom == exact


def test_star_components_equal_propagation_on_corpus(spark, corpus):
    """Large-star/small-star and min-label propagation must produce the
    identical (doc_id, component_id) labeling on the planted corpus —
    they share one SQL oracle in the registry."""
    a = {
        (r.doc_id, r.component_id)
        for r in dedup.neardup_components(spark, corpus).collect()
    }
    b = {
        (r.doc_id, r.component_id)
        for r in dedup.neardup_components_star(spark, corpus).collect()
    }
    assert a == b


def test_star_components_on_adversarial_long_chain(spark):
    """A 64-node path graph has diameter 63 — the topology where label
    propagation needs ~diameter rounds. The star alternation must label
    every node with the chain minimum in its O(log^2) round budget, plus
    handle a second component and reversed edge order."""
    chain = [(i, i + 1) for i in range(63)]
    other = [(100, 101), (101, 102)]
    edges = spark.createDataFrame(
        [(b, a) for a, b in chain] + other, ["doc_a", "doc_b"]
    )
    got = {
        (r.doc_id, r.component_id)
        for r in dedup.connected_components_star(edges).collect()
    }
    want = {(i, 0) for i in range(64)} | {(i, 100) for i in (100, 101, 102)}
    assert got == want


def test_kcore_fixpoint_and_degree_bound(spark):
    """Every k-core member's within-core degree is >= k, and one extra
    peel round changes nothing (the fixed `rounds` unroll has reached the
    fixpoint at fixture scale — the convention the oracle depends on)."""
    from redis_dataflow_realtime_analytics_spark.operators import dedup as dd

    base = {(r.doc_id, r.core_deg) for r in dd.kcore_membership(spark, SF_SMOKE).collect()}
    assert all(deg >= 2 for _, deg in base)
    more = {(r.doc_id, r.core_deg) for r in dd.kcore_membership(spark, SF_SMOKE, rounds=5).collect()}
    assert base == more


def test_remove_boilerplate_matches_oracle(spark):
    from .oracle import compare
    from redis_dataflow_realtime_analytics_spark.operators import dedup

    compare(
        dedup.remove_boilerplate_spans(spark, SF_SMOKE),
        dedup.oracle_remove_boilerplate_spans(),
        SF_SMOKE,
    )


def test_remove_boilerplate_consistent_with_span_inventory(spark):
    """Docs with zero duplicated spans keep all their tokens verbatim;
    any doc with n_removed > 0 must show dup spans in the inventory, and
    clean_text token count equals n_tokens - n_removed."""
    from redis_dataflow_realtime_analytics_spark.operators import dedup

    spans = {r.doc_id: r.n_dup_spans for r in dedup.duplicate_spans(spark, SF_SMOKE).collect()}
    rows = dedup.remove_boilerplate_spans(spark, SF_SMOKE).collect()
    for r in rows:
        kept = [t for t in r.clean_text.split(" ") if t != ""] if r.clean_text else []
        assert len(kept) == r.n_tokens - r.n_removed
        if r.n_removed > 0:
            assert spans[r.doc_id] > 0
        if spans[r.doc_id] == 0:
            assert r.n_removed == 0


def _wjaccard(c1: dict, c2: dict) -> float:
    keys = set(c1) | set(c2)
    num = sum(min(c1.get(k, 0), c2.get(k, 0)) for k in keys)
    den = sum(max(c1.get(k, 0), c2.get(k, 0)) for k in keys)
    return num / den


@pytest.fixture(scope="module")
def bag_corpus(spark, tmp_path_factory):
    """Docs with IDENTICAL vocabulary but different token distributions:
    set-Jaccard over shingles is blind to the difference; weighted
    Jaccard is not. Pairs: (0,1) near-identical bags (high J_w), (0,2)
    same vocabulary, skewed counts (low J_w)."""
    base = ("alpha bravo charlie " * 30).split()
    near = list(base)
    near[5] = "alpha"  # one token changed: J_w stays high
    skew = ("alpha " * 80 + "bravo charlie " * 5).split()
    rows = [
        (0, " ".join(base)),
        (1, " ".join(near)),
        (2, " ".join(skew)),
    ]
    d = tmp_path_factory.mktemp("wmh_sf")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(
        str(d / "documents.parquet")
    )
    return str(d), rows


def test_weighted_minhash_sees_bag_structure(spark, bag_corpus):
    sf_dir, rows = bag_corpus
    from collections import Counter

    def shingle_bag(text):
        toks = text.split()
        return Counter(
            " ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))
        )

    bags = {i: shingle_bag(t) for i, t in rows}
    jw01 = _wjaccard(bags[0], bags[1])
    jw02 = _wjaccard(bags[0], bags[2])
    assert jw01 > 0.8 and jw02 < 0.5  # the planted contrast

    pairs = {
        (r.doc_a, r.doc_b): r.est_wjaccard
        for r in dedup.weighted_minhash_pairs(spark, sf_dir, threshold=0.0).collect()
    }
    # high-J_w pair surfaces with an estimate near truth
    assert (0, 1) in pairs
    assert abs(pairs[(0, 1)] - jw01) < 0.25
    # the skewed pair, if banding surfaces it at all, must estimate LOW —
    # set-MinHash would estimate ~1.0 here (identical shingle SETS)
    if (0, 2) in pairs:
        assert pairs[(0, 2)] < jw02 + 0.25


def test_weighted_minhash_recall_on_planted_bags(spark, corpus):
    """On the planted near-dup corpus (exact copies J_w = 1), the
    weighted path recalls every exact-copy pair at threshold 0.9."""
    pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup.weighted_minhash_pairs(spark, corpus, threshold=0.9).collect()
    }
    expected = {(i, i + 1) for i in range(0, 60, 3)}  # base, exact copy
    assert expected <= pairs


def test_oph_minhash_recall_and_estimate(spark, corpus):
    """OPH with rotation densification recalls every planted exact-copy
    pair (J = 1: every slot agrees regardless of binning) and estimates
    the near-copy pairs' Jaccard within the same band the 32-perm path
    is held to; signatures are fully dense after densification."""
    sigs = dedup.oph_minhash_signatures(
        dedup._spread(dedup.load(spark, corpus, "documents"))
    ).collect()
    assert all(None not in r.sig and len(r.sig) == 32 for r in sigs)

    pairs = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedup.oph_minhash_pairs(spark, corpus, threshold=0.0).collect()
    }
    exact_copies = {(i, i + 1) for i in range(0, 60, 3)}
    assert exact_copies <= set(pairs)
    assert all(pairs[p] == 1.0 for p in exact_copies)
    # near-copies (1 of 40 tokens changed => shingle Jaccard ~0.85+):
    # banding must surface most, and estimates must not collapse
    near = {(i, i + 2) for i in range(0, 60, 3)}
    found = near & set(pairs)
    assert len(found) >= len(near) * 0.7
    for p in found:
        assert pairs[p] >= 0.5, (p, pairs[p])


#: Row digests of the rows-only LSH keys at ``SF_SMOKE``: (row count,
#: sha256 of the sorted row reprs). Recorded before the LSH kernel was
#: factored out of the per-family copies; the kernel must reproduce every
#: row. Identical at 8 and 3 shuffle partitions.
_LSH_ROW_DIGESTS = {
    "dedup_incremental_neardup": (
        8, "83fa423a2b7a403ffc318acadbafa5c732b473a192e65fac4f70925b342a07cc"),
    "dedup_minhash_neardup_pairs": (
        28, "11e8ddf732db8fa88ba17ef986bfdfb2bb1d7fa01cb64c16dbab915e5b972dd4"),
    "dedup_simhash_neardup_pairs": (
        1148, "30fda3d336b164bcc0f360e858cef6d52417a3e90b1f2dd1236d875ffa7d2e98"),
    "dedup_minhash_weighted_pairs": (
        28, "617ae6fc5656cc224bac343da6201e621da59f55a9738e254a180837969b157a"),
    "dedup_minhash_oph_pairs": (
        28, "c696ca7ef43e3fd1ddcbf0a3c759d373669bbc25194cad72564eceb5a8401369"),
    "dedup_lsh_exact_jaccard_pairs": (
        28, "5cae81a80cdbc235d94008b3a54868bcc2896b5c0c03a6a0238ee9813eb43ef4"),
    "dedup_lsh_components": (
        45, "4c6555257cc2ac70f91ed00647d1372824429ba6ec5f9db0d583d442ce8e6270"),
}


@pytest.mark.parametrize("name", sorted(_LSH_ROW_DIGESTS))
def test_rows_only_lsh_key_digest(spark, name):
    """The xxhash64 LSH keys have no SQL oracle, so their exact rows are
    pinned instead: an order-independent digest (sorted row reprs) of
    the registry output on the smoke fixture."""
    import hashlib

    from redis_dataflow_realtime_analytics_spark import registry

    rows = registry.QUERIES[name](spark, SF_SMOKE).collect()
    digest = hashlib.sha256("\n".join(sorted(repr(r) for r in rows)).encode())
    assert (len(rows), digest.hexdigest()) == _LSH_ROW_DIGESTS[name]
