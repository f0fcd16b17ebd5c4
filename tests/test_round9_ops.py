"""Invariants for the round-9 wave — the nine operators that shipped
as WIP in the round-7 snapshot, now registered with full DuckDB
oracles (test_oracle_parity) plus these semantic checks parity can't
see: monotone survival/peel/sweep curves, chi²/HHI/Gini bounds,
entropy-bucket grid exactness, and cross-operator agreement between
the threshold sweep and the standalone cosine dedup.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from distributed_mapreduce_server_spark.catalog import load_tables
from distributed_mapreduce_server_spark.operators.dedup import (
    COSINE_DEDUP_T,
    SWEEP_THRESHOLDS,
    dedup_embedding_cosine,
    dedup_threshold_sweep,
)
from distributed_mapreduce_server_spark.operators.events import (
    BOT_CV_T,
    BOT_MIN_GAPS,
    q_events_bot_flags,
    q_events_user_entropy,
)
from distributed_mapreduce_server_spark.operators.graph import (
    KCORE_K,
    KCORE_ROUNDS,
    q_graph_kcore_peel,
)
from distributed_mapreduce_server_spark.operators.relational import (
    CORR_COLS,
    SURVIVAL_GRID_DAYS,
    q_chi2_segment_priority,
    q_corr_matrix,
    q_gini_revenue,
    q_repeat_purchase_survival,
    q_supplier_hhi,
)


def test_survival_curve_monotone_and_bounded(spark, sf_smoke):
    rows = q_repeat_purchase_survival(spark, sf_smoke).collect()
    assert [r["horizon_days"] for r in rows] == list(SURVIVAL_GRID_DAYS)
    n_gaps = {r["n_gaps"] for r in rows}
    assert len(n_gaps) == 1 and n_gaps.pop() > 0
    surv = [r["survival"] for r in rows]
    assert all(0.0 <= s <= 1.0 for s in surv)
    assert surv == sorted(surv, reverse=True)
    for r in rows:
        assert r["n_surviving"] <= r["n_gaps"]
    # non-vacuous: the curve actually decays inside (0, 1)
    assert any(0.0 < s < 1.0 for s in surv)
    assert surv[0] > surv[-1]


def test_chi2_cells_conserve_counts_and_total(spark, sf_smoke):
    rows = q_chi2_segment_priority(spark, sf_smoke).collect()
    orders = load_tables(spark, sf_smoke, register_views=False)["orders"]
    assert sum(r["observed"] for r in rows) == orders.count()
    # expected margins reproduce observed margins per segment
    by_seg: dict = {}
    for r in rows:
        by_seg.setdefault(r["c_mktsegment"], [0, 0.0])
        by_seg[r["c_mktsegment"]][0] += r["observed"]
        by_seg[r["c_mktsegment"]][1] += r["expected"]
    for seg, (obs, exp) in by_seg.items():
        assert math.isclose(obs, exp, rel_tol=1e-6), seg
    totals = {r["chi2_total"] for r in rows}
    assert len(totals) == 1
    total = totals.pop()
    assert math.isclose(
        total, sum(r["chi2_term"] for r in rows), abs_tol=len(rows) * 1e-6 + 1e-4
    )
    assert all(r["chi2_term"] >= 0.0 for r in rows)


def test_gini_bounds_and_population(spark, sf_smoke):
    rows = q_gini_revenue(spark, sf_smoke).collect()
    assert len(rows) == 1
    r = rows[0]
    assert 0.0 <= r["gini"] < 1.0
    orders = load_tables(spark, sf_smoke, register_views=False)["orders"]
    assert r["n_customers"] == orders.select("o_custkey").distinct().count()
    exact_total = orders.agg(F.sum("o_totalprice")).collect()[0][0]
    # per-customer 2-dp rounding moves the total < 1 cent per customer
    assert abs(r["total_revenue"] - exact_total) < 0.005 * r["n_customers"] + 0.01


def test_hhi_within_concentration_bounds(spark, sf_dir):
    # sf0.01 — the smoke corpus has one supplier per nation (HHI ≡ 1),
    # which makes the unequal-shares check vacuous
    rows = q_supplier_hhi(spark, sf_dir).collect()
    assert rows and len(rows) <= 25
    for r in rows:
        assert r["n_suppliers"] >= 1
        # HHI is bounded below by the equal-shares floor 1/n and above by 1
        assert 1.0 / r["n_suppliers"] - 1e-6 <= r["hhi"] <= 1.0 + 1e-6, r
        assert r["nation_revenue"] > 0
    # non-vacuous: shares are not all equal somewhere
    assert any(r["hhi"] > 1.0 / r["n_suppliers"] + 1e-6 for r in rows)


def test_corr_matrix_shape_and_bounds(spark, sf_smoke):
    rows = q_corr_matrix(spark, sf_smoke).collect()
    n_pairs = len(CORR_COLS) * (len(CORR_COLS) - 1) // 2
    assert len(rows) == n_pairs
    li = load_tables(spark, sf_smoke, register_views=False)["lineitem"]
    n = li.count()
    for r in rows:
        assert r["n_rows"] == n
        assert -1.0 - 1e-9 <= r["corr"] <= 1.0 + 1e-9
        assert r["col_a"] < r["col_b"]
    # independent uniform draws shouldn't be perfectly correlated
    assert all(abs(r["corr"]) < 0.999 for r in rows)


def test_entropy_histogram_on_grid_and_conserves_users(spark, sf_smoke):
    rows = q_events_user_entropy(spark, sf_smoke).collect()
    ev = load_tables(spark, sf_smoke, register_views=False)["events"]
    n_users = ev.select("user_id").distinct().count()
    assert sum(r["n_users"] for r in rows) == n_users
    for r in rows:
        # bucket floors sit EXACTLY on the 0.02 grid (the fp-division
        # misbucketing fixed this round would land off-grid values)
        cents = r["entropy_bucket"] * 100
        assert math.isclose(cents, round(cents), abs_tol=1e-9)
        assert round(cents) % 2 == 0
        assert r["entropy_bucket"] >= 0.0
        assert r["n_users"] > 0 and r["avg_events"] >= 1.0
    assert len(rows) > 1  # the 0.02 width spreads users across buckets


def test_bot_flags_respect_gates(spark, sf_dir):
    # sf0.01 — the smoke corpus has too few per-user events to flag
    rows = q_events_bot_flags(spark, sf_dir).collect()
    assert rows, "threshold sized to flag a non-empty minority at sf0.01"
    for r in rows:
        assert r["n_gaps"] >= BOT_MIN_GAPS
        assert 0.0 <= r["gap_cv"] < BOT_CV_T
        assert r["mean_gap_s"] >= 0.0
    # a minority, not the population
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    assert len(rows) < ev.select("user_id").distinct().count() / 2


def test_kcore_peel_monotone(spark, sf_smoke):
    rows = q_graph_kcore_peel(spark, sf_smoke).collect()
    assert [r["round"] for r in rows] == list(range(1, KCORE_ROUNDS + 1))
    assert all(r["k"] == KCORE_K for r in rows)
    nodes = [r["n_nodes"] for r in rows]
    edges = [r["n_edges"] for r in rows]
    assert nodes == sorted(nodes, reverse=True)
    assert edges == sorted(edges, reverse=True)
    for r in rows:
        assert r["n_edges"] <= r["n_nodes"] * (r["n_nodes"] - 1) // 2
    # the peel actually peels at least once
    assert nodes[0] > nodes[-1] or edges[0] > edges[-1]


def test_kcore_peel_releases_its_checkpoints(spark, sf_smoke):
    from distributed_mapreduce_server_spark.session import persistent_rdd_ids

    before = persistent_rdd_ids(spark)
    q_graph_kcore_peel(spark, sf_smoke).collect()
    leaked = persistent_rdd_ids(spark) - before
    assert not leaked, f"kcore leaked checkpoint blocks: {leaked}"


def test_threshold_sweep_monotone_and_agrees_with_cosine_dedup(spark, sf_smoke):
    rows = dedup_threshold_sweep(spark, sf_smoke).collect()
    assert [r["threshold"] for r in rows] == sorted(SWEEP_THRESHOLDS)
    pairs = [r["n_pairs"] for r in rows]
    docs = [r["n_docs_affected"] for r in rows]
    assert pairs == sorted(pairs, reverse=True)
    assert docs == sorted(docs, reverse=True)
    for r in rows:
        assert r["n_docs_affected"] <= 2 * r["n_pairs"]
    # cross-operator: the sweep's pair source is ROUTED (round 10), so
    # its row at the standard dedup cut counts exactly the pairs the
    # routed dedup operator emits
    from distributed_mapreduce_server_spark.operators.dedup import (
        dedup_semantic_routed,
    )

    at_t = {r["threshold"]: r["n_pairs"] for r in rows}[COSINE_DEDUP_T]
    assert at_t == dedup_semantic_routed(spark, sf_smoke).count()


def test_threshold_sweep_routed_bounded_by_exact(spark, sf_smoke):
    """The routed pair source may only ever DROP pairs relative to
    the exact kernel — per grid cut, routed n_pairs/n_docs_affected
    <= exact, and the exact arm stays available (VERDICT r9 task 5:
    the tuning table must not pay the n²-flop kernel, but the brute
    audit path remains for small corpora)."""
    from distributed_mapreduce_server_spark.operators.dedup import (
        _blocked_cosine_pairs,
        _threshold_sweep,
    )

    emb = load_tables(spark, sf_smoke, register_views=False)["embeddings"]
    exact_pairs = _blocked_cosine_pairs(
        spark, emb, threshold=min(SWEEP_THRESHOLDS)
    )
    routed = {
        r["threshold"]: (r["n_pairs"], r["n_docs_affected"])
        for r in dedup_threshold_sweep(spark, sf_smoke).collect()
    }
    exact = {
        r["threshold"]: (r["n_pairs"], r["n_docs_affected"])
        for r in _threshold_sweep(spark, exact_pairs).collect()
    }
    assert set(routed) == set(exact) == set(SWEEP_THRESHOLDS)
    for t in routed:
        assert routed[t][0] <= exact[t][0], t
        assert routed[t][1] <= exact[t][1], t
    assert any(v[0] > 0 for v in routed.values())  # non-vacuous


def test_routed_pairs_are_subset_of_exact_and_eval_consistent(spark, sf_smoke):
    """Routing only limits WHICH pairs are scored — every routed pair
    must appear in the exact baseline with the identical rounded
    cosine (precision 1 by construction), and the eval row's counts
    must agree with the frames it summarizes."""
    from distributed_mapreduce_server_spark.operators.dedup import (
        dedup_routed_eval,
        dedup_semantic_routed,
    )

    routed = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in dedup_semantic_routed(spark, sf_smoke).collect()
    }
    exact = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in dedup_embedding_cosine(spark, sf_smoke).collect()
    }
    assert set(routed) <= set(exact)
    for k, v in routed.items():
        assert v == exact[k], k
    ev = dedup_routed_eval(spark, sf_smoke).collect()[0]
    assert ev["n_routed_pairs"] == len(routed)
    assert ev["n_exact_pairs"] == len(exact)
    assert ev["n_missed"] == len(exact) - len(routed)
    assert 0.0 < ev["recall"] <= 1.0
    assert ev["n_candidates"] < ev["n_brute_pairs"] or ev["candidate_reduction"] <= 1.0


def test_substr_spans_consistent_with_coverage(spark, sf_smoke):
    """The span report must tile exactly the coverage report: per doc,
    Σ span lengths == dedup_exact_substr's n_dup_covered, every span
    is at least SUBSTR_L tokens (a duplicated run shorter than L
    cannot be covered), the longest span fits the doc, and span count
    is consistent with the pigeonhole bound n_spans <=
    n_dup_covered // SUBSTR_L."""
    from distributed_mapreduce_server_spark.operators.dedup import (
        SUBSTR_L,
        dedup_exact_substr,
        dedup_substr_spans,
    )

    cov = {
        r["doc_id"]: r["n_dup_covered"]
        for r in dedup_exact_substr(spark, sf_smoke).collect()
    }
    rows = dedup_substr_spans(spark, sf_smoke).collect()
    assert {r["doc_id"] for r in rows} == set(cov)
    assert any(r["n_spans"] > 0 for r in rows)
    for r in rows:
        assert r["n_dup_covered"] == cov[r["doc_id"]]
        assert r["max_span_tokens"] <= r["n_tokens"]
        if r["n_spans"] == 0:
            assert r["max_span_tokens"] == 0 and r["n_dup_covered"] == 0
        else:
            assert r["max_span_tokens"] >= SUBSTR_L
            assert r["n_spans"] <= r["n_dup_covered"] // SUBSTR_L
            assert r["max_span_tokens"] <= r["n_dup_covered"]


def test_unigram_train_invariants(spark, sf_smoke):
    """Semantic checks oracle parity can't see: vocab composition
    (every char + at most UNI_SEED_VOCAB multi-char pieces), cost
    ordering (the Laplace cost is strictly decreasing in count, so
    sorting by count must sort costs the other way), and that EM
    actually moved mass off the raw substring statistic."""
    from distributed_mapreduce_server_spark.operators.text import (
        UNI_PIECE_MAX_LEN,
        UNI_SEED_VOCAB,
        text_unigram_train,
    )

    rows = text_unigram_train(spark, sf_smoke).collect()
    assert rows
    chars = [r for r in rows if r["piece_len"] == 1]
    multis = [r for r in rows if r["piece_len"] >= 2]
    assert len(multis) <= UNI_SEED_VOCAB
    assert all(1 <= r["piece_len"] <= UNI_PIECE_MAX_LEN for r in rows)
    assert all(r["seed_count"] > 0 for r in rows)
    assert all(r["em_count"] >= 0 for r in rows)
    # chars always survive in vocab (coverage guarantee)
    assert {r["piece"] for r in chars}
    # Laplace cost is a strictly decreasing function of count: sort by
    # em_count desc must sort cost_micro asc (ties in count = ties in cost)
    by_count = sorted(rows, key=lambda r: -r["em_count"])
    costs = [r["cost_micro"] for r in by_count]
    assert costs == sorted(costs)
    # EM re-concentrated mass away from the raw substring statistic
    assert any(r["em_count"] != r["seed_count"] for r in rows)
    # unused pieces share the single max (count-0 Laplace) cost
    zero_costs = {r["cost_micro"] for r in rows if r["em_count"] == 0}
    assert len(zero_costs) <= 1


def test_unigram_fertility_consistent_with_train(spark, sf_smoke):
    """Fertility bounds: pieces-per-word lies in [1, max word length]
    (em_count can't be balanced against total_pieces directly — the
    eval re-encodes with the POST-final-round costs, one Viterbi pass
    past the counts the train table reports), and the vocabulary
    compresses at least one source below the chars-per-word ceiling."""
    from distributed_mapreduce_server_spark.operators.text import (
        text_unigram_fertility,
    )

    rows = text_unigram_fertility(spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert r["n_words"] > 0
        assert r["n_words"] <= r["total_pieces"]
        assert 1.0 <= r["fertility"] <= 8.0  # corpus max word length
    # the unigram vocab compresses at least somewhere (some multi-char
    # piece in use => fertility strictly below chars-per-word)
    assert any(r["fertility"] < 5.0 for r in rows)


def test_unigram_tokenize_mass_balance(spark, sf_smoke):
    """The encode step must agree with the eval step on the corpus
    totals: Σ n_pieces over docs == Σ total_pieces over sources (both
    count every word occurrence's best-segmentation length under the
    final costs), every doc has n_pieces >= n_words, and the id
    prefix is well-formed (1-based ids within vocab size)."""
    from distributed_mapreduce_server_spark.operators.text import (
        text_unigram_fertility,
        text_unigram_tokenize,
        text_unigram_train,
    )

    docs = text_unigram_tokenize(spark, sf_smoke).collect()
    srcs = text_unigram_fertility(spark, sf_smoke).collect()
    assert sum(r["n_pieces"] for r in docs) == sum(
        r["total_pieces"] for r in srcs
    )
    assert sum(r["n_words"] for r in docs) == sum(r["n_words"] for r in srcs)
    nv = text_unigram_train(spark, sf_smoke).count()
    for r in docs:
        assert r["n_pieces"] >= r["n_words"]
        ids = [int(x) for x in r["first_piece_ids"].split(",") if x]
        assert ids and all(1 <= i <= nv for i in ids)


def test_unigram_tokenize_wordmap_broadcast_is_bounded(spark, sf_smoke, monkeypatch):
    """VERDICT r9 task 3: the (distinct word -> piece ids) map is
    Heaps-law-sized, so the broadcast hint must be conditional.
    Under the bound the join broadcasts (skips the corpus-side
    shuffle); forced OVER the bound the plan must contain NO
    BroadcastExchange anywhere (the word map shuffle-joins on tok
    and nothing else in the op broadcasts)."""
    from distributed_mapreduce_server_spark.operators import text as text_mod
    from distributed_mapreduce_server_spark.plans import physical_plan

    # At smoke SF the planner's own size estimate also clears the
    # autoBroadcastJoinThreshold, masking the hint — disable it so the
    # plans show exactly what the HINT does (at 100 TB the estimate
    # exceeds the threshold on its own, which is the point of the fix).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        under = physical_plan(text_mod.text_unigram_tokenize(spark, sf_smoke))
        assert "BroadcastExchange" in under  # hint forces it

        monkeypatch.setattr(text_mod, "UNI_WORDMAP_BROADCAST_LIMIT", 0)
        over = physical_plan(text_mod.text_unigram_tokenize(spark, sf_smoke))
        assert "BroadcastExchange" not in over  # shuffle-join on tok
        # result-identical on both paths
        a = text_mod.text_unigram_tokenize(spark, sf_smoke).collect()
        monkeypatch.undo()
        b = text_mod.text_unigram_tokenize(spark, sf_smoke).collect()
        assert a == b
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_unigram_driver_and_distributed_paths_identical(spark, sf_smoke):
    """text_bpe_train's forced-fallback discipline for the unigram
    trainer: the driver numpy/dict loop and the distributed Arrow-
    Viterbi rounds must produce the identical fit."""
    from distributed_mapreduce_server_spark.operators.text import _unigram_fit

    a = _unigram_fit(spark, sf_smoke)
    b = _unigram_fit(spark, sf_smoke, force_distributed=True)
    assert a[0] == b[0]  # pieces
    assert a[2] == b[2]  # seed counts
    assert a[3] == b[3]  # EM counts
    assert a[4] == b[4]  # final costs


def test_route_codebook_driver_and_distributed_paths_identical(spark, sf_smoke):
    """The driver numpy fast path and the distributed per-round loop
    must land on the SAME codebook (both quantize cosines to 1e-4 and
    means to 1e-6, so sum-order noise cannot move a fixed point) —
    the forced-fallback discipline the BPE trainer established."""
    import numpy as np

    from distributed_mapreduce_server_spark.operators.dedup import _route_codebook

    ids_d, mat_d = _route_codebook(spark, sf_smoke)
    ids_x, mat_x = _route_codebook(spark, sf_smoke, force_distributed=True)
    assert np.array_equal(ids_d, ids_x)
    assert np.array_equal(mat_d, mat_x)


def test_probe_sweep_monotone_and_agrees_with_routed_eval(spark, sf_smoke):
    """The tuning curve must be internally consistent: widening the
    probe width can only ADD candidates and catch MORE exact pairs,
    and the curve's widest row (P = ROUTE_PROBES) must describe the
    same configuration dedup_routed_eval runs — same exact-pair total,
    same routed count, same recall, same candidate budget. The two
    counts agree because the sweep annotates pairs FROM the exact
    frame with their minimal catching width (so co-bucketed implies
    cosine >= T already) while the routed operator verifies the same
    threshold inside each bucket — catchable == caught."""
    from distributed_mapreduce_server_spark.operators.dedup import (
        ROUTE_PROBES,
        dedup_routed_eval,
        dedup_routed_probe_sweep,
    )

    rows = dedup_routed_probe_sweep(spark, sf_smoke).collect()
    assert [r["probes"] for r in rows] == list(range(1, ROUTE_PROBES + 1))
    cands = [r["n_candidates"] for r in rows]
    routed = [r["n_routed_pairs"] for r in rows]
    recalls = [r["recall"] for r in rows]
    assert cands == sorted(cands)
    assert routed == sorted(routed)
    assert recalls == sorted(recalls)
    n_exact = {r["n_exact_pairs"] for r in rows}
    assert len(n_exact) == 1
    for r in rows:
        assert r["n_routed_pairs"] <= r["n_exact_pairs"]
        assert 0.0 <= r["recall"] <= 1.0
    ev = dedup_routed_eval(spark, sf_smoke).collect()[0]
    widest = rows[-1]
    assert widest["n_exact_pairs"] == ev["n_exact_pairs"]
    assert widest["n_routed_pairs"] == ev["n_routed_pairs"]
    assert widest["recall"] == ev["recall"]
    # the eval's candidate budget is the widest-width histogram fold
    assert widest["n_candidates"] == ev["n_candidates"]
