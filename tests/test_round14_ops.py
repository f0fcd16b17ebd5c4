"""Round 14 (optimization round 2): focused pins for the operator
internals the round changed.

- LPA's fused mode(lbl, deterministic=true) vote must equal the former
  two-aggregation argmax (count DESC, label ASC tie-break) exactly —
  including on synthetic tie-heavy graphs the corpus may not exercise.
- The k-core peel's one-job-per-round stats derivation (survivor count
  + sum(d)/2 edge count off the degree frame, restriction against the
  ORIGINAL edge frame) must reproduce the straightforward per-round
  materialized peel row for row.
- session.scoped_conf must restore values on success and error.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_mapreduce_server_spark.session import scoped_conf

SF_SMOKE = "/root/testdata/sf0.001"


class TestContractLine:
    """VERDICT r13 task 3: the stdout contract line, shrunk as far as
    the never-rename-keys contract allows. <2000 bytes is provably
    unreachable (the key names alone cost ~2.9 KB), so the pin is the
    achievable compact size plus the structural invariants the driver
    parses."""

    def _best(self):
        import json

        with open("/root/repo/bench_results.json") as fh:
            return json.load(fh)

    def test_compact_line_size_and_shape(self):
        import json
        import sys

        sys.path.insert(0, "/root/repo")
        from bench import contract_line

        best = self._best()
        line = json.dumps(contract_line(best), separators=(",", ":"))
        keys_floor = sum(len(k) + 6 for k in best["queries"])  # "k":v,
        # compact 2dp line: keys floor + <=6 value bytes per row + the
        # scalar fields. Pin a ceiling that catches re-bloat (the r13
        # line was 3960 bytes pretty-separated at 3dp).
        assert len(line) <= keys_floor + 6 * len(best["queries"]) + 200
        parsed = json.loads(line)
        assert set(parsed) == {
            "metric",
            "value",
            "unit",
            "queries",
            "headline_value",
            "sf",
        }
        assert parsed["queries"].keys() == best["queries"].keys()
        # per-query values are 2dp, 3dp under 0.1 s (file keeps 3dp
        # medians)
        assert all(
            round(v, 3 if v < 0.1 else 2) == v
            for v in parsed["queries"].values()
        )
        # the cross-round totals keep full precision
        assert parsed["value"] == best["value"]
        assert parsed["headline_value"] == best["headline_value"]

    def test_sub_tenth_second_rows_keep_three_decimals(self):
        from bench import contract_line

        best = {
            "metric": "m",
            "value": 1.2345,
            "unit": "s",
            "headline_value": 0.9876,
            "sf": "sf0.1",
            "queries": {"fast": 0.0042, "edge": 0.0996, "slow": 0.1234},
        }
        q = contract_line(best)["queries"]
        # a 4 ms row would print as 0.0 at 2 decimals
        assert q == {"fast": 0.004, "edge": 0.1, "slow": 0.12}


class TestScopedConf:
    def test_unset_key_is_unset_again(self, spark):
        key = "spark.dmrs.test.scopedConfUnsetKey"
        with pytest.raises(Exception):
            spark.conf.get(key)  # unset, no default
        with scoped_conf(spark, {key: "1"}):
            assert spark.conf.get(key) == "1"
        assert spark.conf.get(key, None) is None

    def test_sets_and_restores(self, spark):
        key = "spark.sql.adaptive.enabled"
        prev = spark.conf.get(key)
        with scoped_conf(spark, {key: "false"}):
            assert spark.conf.get(key) == "false"
        assert spark.conf.get(key) == prev

    def test_restores_on_error(self, spark):
        key = "spark.sql.adaptive.enabled"
        prev = spark.conf.get(key)
        with pytest.raises(RuntimeError):
            with scoped_conf(spark, {key: "false"}):
                raise RuntimeError("boom")
        assert spark.conf.get(key) == prev

    def test_empty_dict_is_noop(self, spark):
        with scoped_conf(spark, {}):
            pass


class TestLpaModeVote:
    """mode(lbl, deterministic=true) == argmax by (count DESC, lbl ASC)."""

    def _two_agg(self, votes_df):
        return (
            votes_df.groupBy(F.col("src").alias("node"), "lbl")
            .agg(F.count("*").alias("c"))
            .groupBy("node")
            .agg(
                F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("nl"))).alias("m")
            )
            .select("node", (-F.col("m.nl")).alias("lbl"))
        )

    def _mode_agg(self, votes_df):
        return votes_df.groupBy(F.col("src").alias("node")).agg(
            F.mode(F.col("lbl"), True).alias("lbl")
        )

    def test_tie_heavy_synthetic(self, spark):
        # node 1 sees labels [5, 5, 3, 3] -> tie, smallest label (3)
        # node 2 sees labels [9] -> 9
        # node 3 sees labels [7, 2, 7, 2, 1] -> tie at 2x, smallest (2)
        rows = [
            (1, 5), (1, 5), (1, 3), (1, 3),
            (2, 9),
            (3, 7), (3, 2), (3, 7), (3, 2), (3, 1),
        ]
        votes = spark.createDataFrame(rows, "src long, lbl long")
        got = {r["node"]: r["lbl"] for r in self._mode_agg(votes).collect()}
        want = {r["node"]: r["lbl"] for r in self._two_agg(votes).collect()}
        assert got == want == {1: 3, 2: 9, 3: 2}

    def test_corpus_round_equivalence(self, spark):
        # one real LPA round over the sf0.001 co-purchase graph: the
        # fused vote must equal the two-agg argmax on every node.
        from distributed_mapreduce_server_spark.operators.graph import (
            _copurchase_edges,
        )

        edges = _copurchase_edges(spark, SF_SMOKE)
        und = edges.select(
            F.col("u").alias("src"), F.col("v").alias("dst")
        ).unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        labels = (
            und.select(F.col("src").alias("node"))
            .distinct()
            .select("node", F.col("node").alias("lbl"))
        )
        joined = und.join(labels.withColumnsRenamed({"node": "dst"}), "dst").select(
            "src", "lbl"
        )
        a = self._mode_agg(joined)
        b = self._two_agg(joined)
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0


class TestKcoreStatsDerivation:
    def test_matches_materialized_peel(self, spark):
        """The shipped one-job-per-round peel == the straightforward
        materialize-every-round peel, row for row (sf0.001)."""
        from distributed_mapreduce_server_spark.operators.graph import (
            KCORE_K,
            KCORE_ROUNDS,
            _copurchase_edges,
            q_graph_kcore_peel,
        )

        got = [tuple(r) for r in q_graph_kcore_peel(spark, SF_SMOKE).collect()]

        edges = _copurchase_edges(spark, SF_SMOKE).localCheckpoint(eager=True)
        want = []
        cur = edges
        for r in range(1, KCORE_ROUNDS + 1):
            deg = (
                cur.select(F.col("u").alias("node"))
                .unionAll(cur.select(F.col("v").alias("node")))
                .groupBy("node")
                .agg(F.count("*").alias("d"))
            )
            keep = deg.filter(F.col("d") >= KCORE_K).select("node").localCheckpoint(
                eager=True
            )
            n_nodes = keep.count()
            cur = (
                cur.join(keep.select(F.col("node").alias("u")), "u", "left_semi")
                .join(keep.select(F.col("node").alias("v")), "v", "left_semi")
                .select("u", "v")
                .localCheckpoint(eager=True)
            )
            want.append((r, KCORE_K, n_nodes, cur.count()))
        assert got == want

    def test_restriction_compounds(self, spark):
        """Restricting the ORIGINAL edges by a shrunken survivor set ==
        restricting the previous round's restricted edges (the identity
        the one-pass peel relies on)."""
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (1, 4), (4, 5)], "u long, v long"
        )
        s1 = spark.createDataFrame([(1,), (2,), (3,), (4,)], "node long")
        s2 = spark.createDataFrame([(1,), (2,), (4,)], "node long")  # s2 ⊆ s1

        def restrict(e, s):
            return e.join(
                s.select(F.col("node").alias("u")), "u", "left_semi"
            ).join(s.select(F.col("node").alias("v")), "v", "left_semi")

        once = restrict(edges, s2)
        twice = restrict(restrict(edges, s1), s2)
        assert once.exceptAll(twice).count() == 0
        assert twice.exceptAll(once).count() == 0
