"""Operator property tests: upsert LWW + idempotency, minhash recall,
approx-distinct error bound, similarity sanity."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from airflow_jira_etl_spark import catalog
from airflow_jira_etl_spark.operators.upsert import upsert


def test_upsert_last_writer_wins(spark):
    base = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=3, v="c")]
    )
    updates = spark.createDataFrame(
        # two updates for k=2: the LATER one must win (the reference's
        # per-record sequential execute order, db_ops.py:32-41)
        [Row(k=2, v="b1"), Row(k=2, v="b2"), Row(k=4, v="d")]
    )
    got = {r.k: r.v for r in upsert(base, updates, "k").collect()}
    assert got == {1: "a", 2: "b2", 3: "c", 4: "d"}


def test_upsert_idempotent_replay(spark):
    base = spark.createDataFrame([Row(k=i, v=f"v{i}") for i in range(10)])
    updates = spark.createDataFrame([Row(k=i, v=f"u{i}") for i in range(5, 15)])
    once = upsert(base, updates, "k")
    twice = upsert(once, updates, "k")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_minhash_finds_planted_near_dups(spark):
    """Planted near-duplicates (one word changed in 40) must be recalled
    by the registered word-shingle MinHash kernel. Its portable word
    hash keys only on (length, first letter, last letter), so the
    vocabulary gives every word a distinct triple: words that share a
    triple hash alike, and recall would then be measured on collided
    words rather than on the vocabulary drawn."""
    import random
    import string

    from airflow_jira_etl_spark.queries.llm_ops import minhash_pairs_portable

    rng = random.Random(7)
    letters = string.ascii_lowercase
    triples = rng.sample(
        [(n, a, b) for n in (3, 4, 5, 6) for a in letters for b in letters],
        500,
    )
    vocab = [a + "m" * (n - 2) + b for n, a, b in triples]
    assert len({(len(w), w[0], w[-1]) for w in vocab + ["changed"]}) == 501
    docs = []
    for i in range(40):
        words = [rng.choice(vocab) for _ in range(40)]
        docs.append((2 * i, " ".join(words)))
        near = list(words)
        near[5] = "changed"
        docs.append((2 * i + 1, " ".join(near)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = minhash_pairs_portable(df).collect()
    found = {(p.id1, p.id2) for p in pairs}
    planted = {(2 * i, 2 * i + 1) for i in range(40)}
    recall = len(found & planted) / len(planted)
    assert recall >= 0.9, f"recall {recall}"
    # jaccard of a planted pair is high; random pairs (if any) are low
    for p in pairs:
        if (p.id1, p.id2) in planted:
            assert p.j > 0.5


def test_approx_distinct_within_5pct(spark, sf_dir):
    li = catalog.load(spark, sf_dir, "lineitem")
    row = li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx"),
        F.countDistinct("l_partkey").alias("exact"),
    ).collect()[0]
    assert abs(row.approx - row.exact) / row.exact <= 0.05


def test_cosine_self_similarity_is_one(spark, sf_dir):
    from airflow_jira_etl_spark.functions.similarity import cosine

    emb = catalog.load(spark, sf_dir, "embeddings").limit(20)
    rows = emb.select(
        F.round(cosine(F.col("embedding"), F.col("embedding")), 6).alias("c")
    ).collect()
    assert all(abs(r.c - 1.0) < 1e-5 for r in rows)


def test_ivf_topk_is_deterministic_and_sane(spark, sf_dir):
    """IVF result must be reproducible run-to-run and must contain the
    true nearest neighbor whenever it lands in a probed cluster; we
    assert the weaker, always-true property: results are a subset of
    the exact brute-force ranking's top region and scores match the
    exact scores for the same ids."""
    from airflow_jira_etl_spark.functions.similarity import cosine
    from airflow_jira_etl_spark.operators.ivf import ivf_topk

    emb = catalog.load(spark, sf_dir, "embeddings")
    got1 = [(r.vec_id, r.cos_sim) for r in ivf_topk(spark, emb, 0, 8).collect()]
    got2 = [(r.vec_id, r.cos_sim) for r in ivf_topk(spark, emb, 0, 8).collect()]
    assert got1 == got2  # deterministic
    assert len(got1) == 10
    probe = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("p"))
    exact = {
        r.vec_id: r.c
        for r in emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select("vec_id", F.round(cosine(F.col("embedding"), F.col("p")) + F.lit(1e-9), 4).alias("c"))
        .collect()
    }
    for vid, score in got1:
        assert abs(exact[vid] - score) < 1e-9  # scores are true cosines
    # descending order
    assert [s for _, s in got1] == sorted((s for _, s in got1), reverse=True)


def test_connected_components_chains_and_singletons(spark):
    """Planted topology: a 4-chain (1-2-3-4), a triangle (10,11,12),
    an isolated pair (20,21), singletons 30/31."""
    from pyspark.sql import Row

    from airflow_jira_etl_spark.operators.components import (
        connected_components,
        dedup_clusters,
    )

    pairs = spark.createDataFrame(
        [Row(id1=1, id2=2), Row(id1=2, id2=3), Row(id1=3, id2=4),
         Row(id1=10, id2=11), Row(id1=11, id2=12), Row(id1=10, id2=12),
         Row(id1=20, id2=21)]
    )
    comp = {r.id: r.component for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    all_ids = spark.createDataFrame(
        [Row(doc_id=i) for i in [1, 2, 3, 4, 10, 11, 12, 20, 21, 30, 31]]
    )
    clusters = {
        r.id: (r.component, r.is_canonical)
        for r in dedup_clusters(pairs, all_ids, "doc_id").collect()
    }
    assert clusters[30] == (30, True) and clusters[31] == (31, True)
    assert clusters[4] == (1, False) and clusters[1] == (1, True)
    canonical = [i for i, (_, c) in clusters.items() if c]
    assert sorted(canonical) == [1, 10, 20, 30, 31]

def test_ngram_jaccard_finds_distant_id_near_dups(spark):
    """Near-duplicates whose doc_ids are ~10^6 apart MUST be recalled —
    this is the regression guard against id-window blocking (banding by
    doc_id/50 would make every planted pair invisible)."""
    import random

    rng = random.Random(11)
    alphabet = "abcdefghijklmnopqrstuvwxyz "
    docs = []
    for i in range(30):
        text = "".join(rng.choice(alphabet) for _ in range(200))
        near = text[:100] + ("X" + text[101:])  # one char changed
        docs.append((i, text))
        docs.append((1_000_000 + i, near))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    from airflow_jira_etl_spark.queries.llm_ops import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(df).collect()
    found = {(p.id1, p.id2) for p in pairs}
    planted = {(i, 1_000_000 + i) for i in range(30)}
    recall = len(found & planted) / len(planted)
    assert recall >= 0.9, f"recall {recall}"
    by_pair = {(p.id1, p.id2): p.jaccard for p in pairs}
    for pr in found & planted:
        assert by_pair[pr] > 0.8  # one char in 200 → jaccard near 1


def test_hyperplane_bucket_blocks_by_similarity_not_id(spark):
    """Identical-direction vectors with distant vec_ids share an LSH
    bucket (so sim-pair blocking finds them); vectors with flipped
    block sums land in different buckets."""
    import random

    from airflow_jira_etl_spark.queries.llm_ops import _hyperplane_bucket_spark

    rng = random.Random(3)
    rows = []
    for i in range(20):
        v = [rng.uniform(-1, 1) for _ in range(32)]
        w = [x + rng.uniform(-1e-4, 1e-4) for x in v]  # same direction
        rows.append((i, v))
        rows.append((5_000_000 + i, w))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    b = {
        r.vec_id: r.bucket
        for r in df.select("vec_id", _hyperplane_bucket_spark().alias("bucket")).collect()
    }
    same = sum(b[i] == b[5_000_000 + i] for i in range(20))
    assert same >= 18  # tiny perturbation can flip a near-zero plane, allow 2
    # flipping the sign of every coordinate flips every non-zero plane sum
    flipped = df.select(
        "vec_id",
        F.transform("embedding", lambda x: -x).alias("embedding"),
    ).select("vec_id", _hyperplane_bucket_spark().alias("bucket"))
    fb = {r.vec_id: r.bucket for r in flipped.collect()}
    diff = sum(fb[i] != b[i] for i in range(20))
    assert diff >= 18

def test_connected_components_deep_chain_converges_fast(spark):
    """A 64-vertex chain has diameter 63; pointer jumping must close it
    within the 10-round cap (plain min propagation would need 63)."""
    from pyspark.sql import Row

    from airflow_jira_etl_spark.operators.components import connected_components

    pairs = spark.createDataFrame([Row(id1=i, id2=i + 1) for i in range(63)])
    comp = {r.id: r.component for r in connected_components(pairs).collect()}
    assert comp == {i: 0 for i in range(64)}

def test_connected_components_distributed_path_matches_local(spark, monkeypatch):
    """Force the distributed label-propagation + pointer-jumping loop
    (the >SMALL_EDGE_LIMIT path) and pin it to the union-find result on
    a mixed topology: deep chain + triangle + pair + self-contained."""
    import airflow_jira_etl_spark.operators.components as C
    from pyspark.sql import Row

    edges = [Row(id1=i, id2=i + 1) for i in range(40)]  # 41-chain
    edges += [Row(id1=100, id2=101), Row(id1=101, id2=102), Row(id1=100, id2=102)]
    edges += [Row(id1=200, id2=201)]
    pairs = spark.createDataFrame(edges)
    expected = {r.id: r.component for r in C.connected_components(pairs).collect()}

    monkeypatch.setattr(C, "SMALL_EDGE_LIMIT", 0)
    result = C.connected_components(pairs)
    got = {r.id: r.component for r in result.collect()}
    assert got == expected
    assert got[40] == 0 and got[102] == 100 and got[201] == 200
    # the loop deterministically releases SUPERSEDED checkpoint
    # generations (round 6's materialization frees round 3's blocks);
    # the returned frame must remain fully actionable afterwards — a
    # release of any generation the result still depends on would
    # surface here as CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
    assert result.count() == len(expected)


def test_connected_components_rejects_null_edge_ids(spark, monkeypatch):
    """A NULL edge endpoint must fail LOUDLY on BOTH adaptive paths —
    before the guard, the driver union-find crashed with a bare
    TypeError ('<' unsupported between NoneType and int) while the
    distributed loop silently emitted a NULL-component row that
    dedup_clusters coalesced into a phantom singleton: two behaviors
    for one upstream defect, neither diagnosable."""
    import pytest

    import airflow_jira_etl_spark.operators.components as C

    pairs = spark.createDataFrame(
        [(1, 2), (None, 3)], "id1 long, id2 long"
    )
    with pytest.raises(Exception, match="NULL id1"):
        C.connected_components(pairs).collect()
    monkeypatch.setattr(C, "SMALL_EDGE_LIMIT", 0)  # distributed path
    with pytest.raises(Exception, match="NULL id1"):
        C.connected_components(pairs).collect()


def test_salted_agg_rejects_output_name_collisions(spark):
    """An aggregate output named like a grouping key builds a partial
    frame with two same-named columns; the final groupBy then dies
    with AMBIGUOUS_REFERENCE pointing at internal plan state instead
    of the misnamed aggregate."""
    import pytest

    from airflow_jira_etl_spark.operators.salt import salted_agg

    df = spark.createDataFrame([(1, 2)], "k long, v long")
    with pytest.raises(ValueError, match="output name"):
        salted_agg(df, ["k"], {"k": (F.sum("v"), F.sum("k"))})


def test_connected_components_failure_path_releases_all_generations(
    spark, monkeypatch
):
    """A mid-round failure must release EVERY label generation —
    including the just-materialized checkpoint that has not yet been
    assigned to labels/prev_ckpt (the window between its eager
    localCheckpoint and the `changed` count). Before the fix, a
    failure in that window leaked a full label frame of executor
    storage until the ContextCleaner's periodic GC; verified here as
    zero NEW resident RDDs after an injected failure at the first
    checkpoint round (the pre-fix code leaves exactly one — the
    checkpointed generation's blocks)."""
    import pytest
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    import airflow_jira_etl_spark.operators.components as C

    sc = spark.sparkContext

    def resident_ids():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    before = resident_ids()
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id1 long, id2 long"
    )
    state = {"n": 0}
    orig_count = ClassicDF.count

    def failing_count(self):
        # the `changed` probe is the only count over an (id, component)
        # projection; the 3rd one runs on the first checkpoint round
        # ((it+1) % 3 == 0), right after new_labels materialized
        if set(self.columns) == {"id", "component"}:
            state["n"] += 1
            if state["n"] == 3:
                raise RuntimeError("injected failure during changed count")
        return orig_count(self)

    monkeypatch.setattr(ClassicDF, "count", failing_count)
    with pytest.raises(RuntimeError, match="injected failure"):
        C._connected_components(pairs, max_iters=10)
    monkeypatch.setattr(ClassicDF, "count", orig_count)
    assert state["n"] == 3  # the injection actually hit a ckpt round
    import time

    time.sleep(2)  # let async unpersist/block removal settle
    assert resident_ids() - before == set()


def test_connected_components_raises_on_iteration_exhaustion(spark, monkeypatch):
    """Exhausting the round cap must RAISE, never silently return
    non-converged labels — split clusters would propagate downstream as
    multiple canonical rows per true duplicate group."""
    import pytest

    import airflow_jira_etl_spark.operators.components as C
    from pyspark.sql import Row

    pairs = spark.createDataFrame([Row(id1=i, id2=i + 1) for i in range(40)])
    monkeypatch.setattr(C, "SMALL_EDGE_LIMIT", 0)  # force the distributed path
    with pytest.raises(RuntimeError, match="did not converge"):
        C.connected_components(pairs, max_iters=2)


def test_approx_quantiles_within_rank_tolerance(spark, sf_dir):
    """Every approximate quartile must land within ±2% rank of the
    exact one (accuracy=10000 guarantees n/10000 rank error; 2% is a
    generous envelope that still catches a broken sketch). The query
    itself now returns the boolean contract — this test re-derives the
    raw sketch values and independently re-checks the bound, then
    asserts the query's own claims agree."""
    from airflow_jira_etl_spark import registry

    registry.load_all_queries()
    orders = catalog.load(spark, sf_dir, "orders")
    q = F.expr("approx_percentile(o_totalprice, array(0.25, 0.5, 0.75), 10000)")
    approx = {
        r.o_orderstatus: (r.qv[0], r.qv[1], r.qv[2])
        for r in orders.groupBy("o_orderstatus").agg(q.alias("qv")).collect()
    }
    bounds = orders.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, array(0.23, 0.27))").alias("b25"),
        F.expr("percentile(o_totalprice, array(0.48, 0.52))").alias("b50"),
        F.expr("percentile(o_totalprice, array(0.73, 0.77))").alias("b75"),
    )
    for r in bounds.collect():
        got = approx[r.o_orderstatus]
        for v, (lo, hi) in zip(got, (r.b25, r.b50, r.b75)):
            assert lo <= v <= hi, (r.o_orderstatus, v, lo, hi)
    for r in registry.QUERIES["agg_approx_quantiles"](spark, sf_dir).collect():
        assert r.p25_ok and r.p50_ok and r.p75_ok, r


def test_approx_quantiles_contract_holds_on_tiny_groups(spark, tmp_path):
    """Groups of 1/2/5 rows: the r07 continuous-envelope formulation was
    UNSATISFIABLE below ~76 rows per group (n=2: approx p25 returns the
    lower element but the 0.24-interpolated bound sits above it), so a
    fixture regen with a rare o_orderstatus would have gone driver-red.
    The rank-interval contract must hold for any group size."""
    import pyarrow.parquet as pq

    from airflow_jira_etl_spark import registry

    registry.load_all_queries()
    t = pq.read_table(catalog.table_path("/root/testdata/sf0.001", "orders"))
    statuses = t.column("o_orderstatus").to_pylist()
    sizes, seen, keep = {"O": 1, "F": 2, "P": 5}, {}, []
    for i, s in enumerate(statuses):
        if seen.get(s, 0) < sizes.get(s, 3):
            keep.append(i)
            seen[s] = seen.get(s, 0) + 1
    pq.write_table(t.take(keep), str(tmp_path / "orders.parquet"))
    rows = registry.QUERIES["agg_approx_quantiles"](
        spark, str(tmp_path)
    ).collect()
    assert len(rows) == len(seen)
    for r in rows:
        assert r.p25_ok and r.p50_ok and r.p75_ok, r


def test_ivf_probe_survives_renumbered_vec_ids(spark, tmp_path):
    """A fixture regen that renumbers vec_ids (no 0) used to CRASH the
    registered IVF query's probe lookup (head()[0] on None — an err
    row, unlike the sibling probes' symmetric-empty degradation). The
    probe is now min(vec_id) on BOTH engines, so the query must stay
    oracle-green on a shifted-id corpus."""
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from airflow_jira_etl_spark import registry
    from tests.oracle_check import compare, duckdb_conn

    registry.load_all_queries()
    src = "/root/testdata/sf0.001"
    t = pq.read_table(catalog.table_path(src, "embeddings"))
    t = t.set_column(
        t.schema.get_field_index("vec_id"),
        "vec_id",
        pc.add(t.column("vec_id"), 1000),
    )
    pq.write_table(t, str(tmp_path / "embeddings.parquet"))
    for name in catalog.TABLES:
        if name != "embeddings":
            os.symlink(
                catalog.table_path(src, name),
                str(tmp_path / f"{name}.parquet"),
            )
    rows = registry.QUERIES["llm_sim_ivf_topk"](spark, str(tmp_path)).collect()
    assert rows[0]["probe_id"] == 1000
    assert all(
        rows[0][c] is True
        for c in ("k_exhausted", "subset_exact", "assign_parity", "count_parity")
    ), rows
    r = compare(
        registry.QUERIES["llm_sim_ivf_topk"](spark, str(tmp_path)),
        duckdb_conn(str(tmp_path)),
        registry.ORACLES["llm_sim_ivf_topk"],
    )
    assert not r["errors"], r["errors"]


@pytest.mark.parametrize("name", ["llm_sim_topk", "llm_sim_lsh_topk"])
def test_sim_probes_survive_renumbered_vec_ids(spark, tmp_path, name):
    """The brute-force and LSH top-k probes used to hard-code
    `vec_id = 0` on BOTH engines; a renumbered fixture regen would
    have degraded them to a vacuous 0-row green (symmetric-empty, so
    the oracle compare could not catch it). The probe is now
    min(vec_id) on both sides — the queries must stay oracle-green AND
    non-empty on a shifted-id corpus."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from airflow_jira_etl_spark import registry
    from tests.oracle_check import compare, duckdb_conn

    registry.load_all_queries()
    src = "/root/testdata/sf0.001"
    t = pq.read_table(catalog.table_path(src, "embeddings"))
    t = t.set_column(
        t.schema.get_field_index("vec_id"),
        "vec_id",
        pc.add(t.column("vec_id"), 1000),
    )
    pq.write_table(t, str(tmp_path / "embeddings.parquet"))
    for other in catalog.TABLES:
        if other != "embeddings":
            os.symlink(
                catalog.table_path(src, other),
                str(tmp_path / f"{other}.parquet"),
            )
    out = registry.QUERIES[name](spark, str(tmp_path))
    assert out.count() > 0, "probe degraded to a vacuous empty result"
    r = compare(
        registry.QUERIES[name](spark, str(tmp_path)),
        duckdb_conn(str(tmp_path)),
        registry.ORACLES[name],
    )
    assert not r["errors"], r["errors"]


def test_minhash_portable_short_and_empty_docs(spark):
    """The Rabin-Karp word-shingle combine pads with zeros so docs with
    fewer than 3 words still hash totally: identical short docs must
    pair at j=1.0, and empty text must not crash the signature pass."""
    from airflow_jira_etl_spark.queries.llm_ops import minhash_pairs_portable

    df = spark.createDataFrame(
        [
            (1, "alpha beta"),
            (2, "alpha beta"),
            (3, ""),
            (4, "solo"),
            (5, "completely different words here now"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.id1, r.id2): r.j for r in minhash_pairs_portable(df).collect()}
    assert pairs.get((1, 2)) == 1.0
    # the distinct short/empty docs must not pair with anything
    assert set(pairs) == {(1, 2)}


def test_global_row_number_matches_window_semantics(spark):
    """The two-phase distributed ranker (operators/ranking.py) must
    reproduce un-partitioned-window row_number/ntile/percent_rank/
    cume_dist EXACTLY — including desc + NULLS FIRST orderings, ties on
    the leading key broken by the appended unique key, and the
    n < buckets ntile fill rule — while its plan contains no Window
    node (the whole point: no single-task serialization)."""
    from pyspark.sql import Window

    from airflow_jira_etl_spark.operators.ranking import (
        cume_dist_expr,
        global_row_number,
        ntile_expr,
        percent_rank_expr,
    )

    rows = [
        (1, 5.0), (2, None), (3, 5.0), (4, 1.0), (5, 9.0),
        (6, None), (7, 3.0), (8, 5.0), (9, 0.0), (10, 7.5),
    ]
    for n_rows in (1, 3, 10):  # 1 and 3 exercise ntile's n<buckets path
        df = spark.createDataFrame(
            rows[:n_rows], "k long, v double"
        )
        order = [F.col("v").desc_nulls_first(), F.col("k")]
        ranked, n = global_row_number(df, order, num_partitions=4)
        assert n == n_rows
        rn = F.col("rn")
        got = {
            r.k: (r.rn, r.q, round(r.pr, 6), round(r.cd, 6))
            for r in ranked.select(
                "k",
                "rn",
                ntile_expr(rn, n, 4).cast("int").alias("q"),
                percent_rank_expr(rn, n).alias("pr"),
                cume_dist_expr(rn, n).alias("cd"),
            ).collect()
        }
        w = Window.orderBy(*order)
        want = {
            r.k: (r.rn, r.q, round(r.pr, 6), round(r.cd, 6))
            for r in df.select(
                "k",
                F.row_number().over(w).cast("long").alias("rn"),
                F.ntile(4).over(w).cast("int").alias("q"),
                F.percent_rank().over(w).alias("pr"),
                F.cume_dist().over(w).alias("cd"),
            ).collect()
        }
        assert got == want, f"n_rows={n_rows}"
        plan = ranked._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        # the rank rides on the lineage-truncated range-tagged frame
        # (round 11: localCheckpoint, so the range exchange runs inside
        # the checkpoint materialization and the final plan reads the
        # materialized RDD — a Window-free scan + offset projection)
        assert "existingrdd" in plan.lower() or "rangepartitioning" in plan.lower()


def test_global_row_number_empty_input(spark):
    """Empty input: rank pass must not crash on the empty offsets
    array; returns (empty frame, 0)."""
    from airflow_jira_etl_spark.operators.ranking import global_row_number

    df = spark.createDataFrame([], "k long, v double")
    ranked, n = global_row_number(df, [F.col("v"), F.col("k")])
    assert n == 0 and ranked.count() == 0


def test_pct_bucket_overflow_proof_for_any_int64_key(spark):
    """The sampling hash must survive ANY int64 key: the raw Knuth
    multiply overflows for keys >= ~3.47e9 (hard ARITHMETIC_OVERFLOW
    under Spark 4's default ANSI mode) — routine id magnitudes at the
    100 TB design point. The 31-bit pre-mod keeps the product in int64
    and leaves sub-2^31 keys' buckets (the fixtures') unchanged."""
    from pyspark.sql import functions as F

    from airflow_jira_etl_spark.queries.sampling import _HASH_A, _pct_bucket

    keys = [0, 1, 12345, 2**31 - 1, 3_500_000_000, 2**62, -5, -(2**62)]
    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    got = [r[0] for r in df.select(_pct_bucket(F.col("doc_id"))).collect()]
    assert all(0 <= b < 100 for b in got)
    # sub-2^31 keys match the raw Knuth bucket exactly (append-stable
    # membership for every existing fixture id)
    for k, b in zip(keys, got):
        if 0 <= k < 2**31:
            assert b == (k * _HASH_A) % 100


def test_cosine_null_embedding_stays_null(spark):
    """A NULL input array must yield NULL (sorted last by DESC
    rankings, like the SQL side), not 0.0 — which would rank an absent
    embedding ABOVE genuinely negative similarities. The 0.0 convention
    is reserved for the zero-NORM case."""
    from airflow_jira_etl_spark.functions.similarity import cosine

    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), (None, [1.0, 0.0]), ([0.0, 0.0], [1.0, 0.0])],
        "a array<float>, b array<float>",
    )
    got = [r.c for r in df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()]
    assert abs(got[0] - 1.0) < 1e-9
    assert got[1] is None  # NULL in, NULL out
    assert got[2] == 0.0  # zero-norm convention


def test_udf_scalar_and_udtf_handle_null_and_typed_json(spark):
    """Drift armor for the UDF/UDTF surfaces: NULL text through the
    row-at-a-time UDF yields NULL (len(None) used to kill the job), and
    the KV UDTF renders JSON values faithfully (null -> SQL NULL,
    booleans lowercase, numbers as JSON text) — matching
    json_extract_string on the oracle side."""
    from pyspark.sql import types as T

    @F.udf(T.DoubleType())
    def chars_per_token(text):
        if text is None:
            return None
        return round(len(text) / len(text.split(" ")) + 1e-9, 4)

    df = spark.createDataFrame([("ab cd",), (None,)], "text string")
    got = [r.c for r in df.select(chars_per_token("text").alias("c")).collect()]
    assert got[0] == 2.5 and got[1] is None

    from airflow_jira_etl_spark import registry

    registry.load_all_queries()
    # drive the registered UDTF over a crafted props row via its own SQL
    from pyspark.sql.functions import udtf

    @udtf(returnType="key string, val string")
    class ParseKV:
        def eval(self, props: str):
            import json

            if props:
                for k, v in json.loads(props).items():
                    if v is None:
                        yield k, None
                    elif isinstance(v, bool):
                        yield k, "true" if v else "false"
                    elif isinstance(v, str):
                        yield k, v
                    else:
                        yield k, json.dumps(v, separators=(",", ":"))

    spark.udtf.register("parse_kv_t", ParseKV)
    spark.createDataFrame(
        [(1, '{"a": true, "b": null, "c": 5, "d": "x"}')],
        "event_id long, props string",
    ).createOrReplaceTempView("kv_probe")
    got = {
        r.key: r.val
        for r in spark.sql(
            "SELECT f.key, f.val FROM kv_probe, LATERAL parse_kv_t(props) f"
        ).collect()
    }
    assert got == {"a": "true", "b": None, "c": "5", "d": "x"}


def test_upsert_rejects_missing_key_and_helper_collisions(spark):
    """A key column absent from one side must raise with an error that
    names the side, before the union is planned. Helper-column
    collisions must raise too (withColumn would replace the
    user's data and drop() would delete it from the output)."""
    import pytest

    from airflow_jira_etl_spark.operators.upsert import merge_aggregate, upsert

    base = spark.createDataFrame([(1, "a")], "k long, v string")
    no_key = spark.createDataFrame([("b",)], "v string")
    with pytest.raises(ValueError, match="key column"):
        upsert(base, no_key, "k")
    with pytest.raises(ValueError, match="key column"):
        merge_aggregate(no_key, base, "k", {"v": "max"})

    clash = spark.createDataFrame([(1, "a", 9)], "k long, v string, __rn long")
    with pytest.raises(ValueError, match="helper"):
        upsert(base, clash, "k")


def test_upsert_null_keys_raise_at_execution(spark):
    """NULL keys must fail LOUDLY: the window groups all NULLs together
    and row_number()==1 silently kept one arbitrary row — data loss
    indistinguishable from a normal merge."""
    import pytest

    from airflow_jira_etl_spark.operators.upsert import merge_aggregate, upsert

    base = spark.createDataFrame([(1, 5)], "k long, n long")
    nulls = spark.createDataFrame([(None, 7), (None, 8)], "k long, n long")
    with pytest.raises(Exception, match="NULL key 'k'"):
        upsert(base, nulls, "k").collect()
    with pytest.raises(Exception, match="NULL key 'k'"):
        merge_aggregate(base, nulls, "k", {"n": "sum"}).collect()


def test_upsert_null_key_error_names_the_poisoned_side(spark):
    """The guard must DIAGNOSE, not just refuse: a NULL key in the
    stored BASE (data written before the guard existed, or by a
    bucketer that hashes NULLs to a valid bucket) has a different fix
    (rewrite the table) than a bad incoming batch (fix the producer) —
    and a base-side raise that blamed 'the merge input' would leave an
    operator retrying a batch that can never succeed."""
    import pytest

    from airflow_jira_etl_spark.operators.upsert import merge_aggregate, upsert

    good = spark.createDataFrame([(1, 5)], "k long, n long")
    poisoned = spark.createDataFrame([(None, 7)], "k long, n long")
    with pytest.raises(Exception, match="BASE"):
        upsert(poisoned, good, "k").collect()
    with pytest.raises(Exception, match="UPDATES"):
        upsert(good, poisoned, "k").collect()
    with pytest.raises(Exception, match="BASE"):
        merge_aggregate(poisoned, good, "k", {"n": "sum"}).collect()
    with pytest.raises(Exception, match="UPDATES"):
        merge_aggregate(good, poisoned, "k", {"n": "sum"}).collect()


def test_salted_agg_rejects_salt_column_collision(spark):
    import pytest

    from airflow_jira_etl_spark.operators.salt import salted_agg

    df = spark.createDataFrame([(1, 2, 3)], "k long, v long, __salt long")
    with pytest.raises(ValueError, match="__salt"):
        salted_agg(df, ["k"], {"t": (F.sum("v"), F.sum("t"))})


def test_ivf_topk_rejects_absent_probe_id(spark):
    import pytest

    from airflow_jira_etl_spark.operators.ivf import ivf_topk

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(32)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="probe vec_id"):
        ivf_topk(spark, emb, probe_id=10_000, k_clusters=4)


def test_time_helpers_null_on_malformed_and_out_of_domain(spark):
    """time_to_seconds must NULL a malformed time string, not abort the
    job: under ANSI mode (this engine's default) a plain cast('int') on
    'ab' is CAST_INVALID_INPUT — one bad API record killed the whole
    query before the try_cast fix. seconds_to_time must NULL inputs
    outside [0, 86400): lpad(str, 2) TRUNCATES, so 100 hours rendered
    as a plausible-looking '10:00:00' and negatives as '-1:-1:…'."""
    from airflow_jira_etl_spark.functions.timeofday import (
        seconds_to_time,
        time_to_seconds,
    )

    t = spark.createDataFrame(
        [("12:34:56",), ("12:ab:30",), (None,), ("99:99:99",)],
        "t string",
    ).select(time_to_seconds(F.col("t")).alias("s"))
    got = [r.s for r in t.collect()]
    assert got[0] == 12 * 3600 + 34 * 60 + 56
    assert got[1] is None and got[2] is None
    assert got[3] == 99 * 3600 + 99 * 60 + 99  # numeric junk passes

    s = spark.createDataFrame(
        [(45296,), (360000,), (-5,), (None,), (0,), (86399,)], "v long"
    ).select(seconds_to_time(F.col("v")).alias("t"))
    got = [r.t for r in s.collect()]
    assert got[0] == "12:34:56"
    assert got[1] is None  # 100h: NOT a truncated '10:00:00'
    assert got[2] is None and got[3] is None
    assert got[4] == "00:00:00" and got[5] == "23:59:59"


def test_cosine_corrupt_vectors_stay_null(spark):
    """The 0.0 convention is reserved for the zero-NORM case alone: a
    NULL element or a length-mismatched pair must propagate NULL (as
    the SQL side does), never score 0.0 — which would rank a corrupt
    embedding ABOVE genuinely negative similarities. The old
    coalesce(try_divide(...), 0.0) form caught those NULLs too."""
    from airflow_jira_etl_spark.functions.similarity import cosine

    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0], [1.0, 2.0]),      # cs = 1
            (2, [0.0, 0.0], [1.0, 2.0]),      # zero norm -> 0.0
            (3, [1.0, None], [1.0, 2.0]),     # NULL element -> NULL
            (4, [1.0], [1.0, 2.0]),           # length mismatch -> NULL
            (5, None, [1.0, 2.0]),            # NULL vector -> NULL
            (6, [-1.0, -2.0], [1.0, 2.0]),    # cs = -1
        ],
        "id long, a array<double>, b array<double>",
    )
    got = {
        r.id: r.cs
        for r in df.select("id", cosine(F.col("a"), F.col("b")).alias("cs")).collect()
    }
    assert abs(got[1] - 1.0) < 1e-12
    assert got[2] == 0.0
    assert got[3] is None and got[4] is None and got[5] is None
    assert abs(got[6] + 1.0) < 1e-12


def test_cosine_sql_mirrors_spark_cosine_on_adversarial_vectors(spark):
    """cosine_sql (the shared oracle fragment) and functions.cosine
    must agree branch-for-branch on every corrupt-input class: raw
    list_cosine_similarity HARD-ERRORS on NULL elements and dimension
    mismatches (inputs a fixture regen can ship), returns -1.0 on a
    zero vector, and errors on empty lists — the guard ladder is what
    keeps every similarity oracle comparable instead of crashing."""
    import duckdb

    from airflow_jira_etl_spark.functions.similarity import cosine, cosine_sql

    cases = [
        (1, [1.0, 2.0], [1.0, 2.0]),
        (2, [0.0, 0.0], [1.0, 2.0]),   # zero norm -> 0.0
        (3, [1.0, None], [1.0, 2.0]),  # NULL element -> NULL
        (4, [1.0], [1.0, 2.0]),        # dim mismatch -> NULL
        (5, None, [1.0, 2.0]),         # NULL list -> NULL
        (6, [-1.0, -2.0], [1.0, 2.0]),
        (7, [], []),                   # empty -> zero norm -> 0.0
        (8, [0.0, 0.0], [1.0]),        # zero norm BUT mismatched -> NULL
    ]
    df = spark.createDataFrame(cases, "id long, a array<double>, b array<double>")
    sp = {
        r.id: r.cs
        for r in df.select("id", cosine(F.col("a"), F.col("b")).alias("cs")).collect()
    }
    con = duckdb.connect()
    values = ", ".join(
        f"({i}, {'NULL' if a is None else [x if x is not None else None for x in a]}::DOUBLE[], "
        f"{'NULL' if b is None else [x if x is not None else None for x in b]}::DOUBLE[])".replace(
            "None", "NULL"
        )
        for i, a, b in cases
    )
    du = dict(
        con.execute(
            f"SELECT id, {cosine_sql('a', 'b')} FROM (VALUES {values}) t(id, a, b)"
        ).fetchall()
    )
    for i, _, _ in cases:
        if sp[i] is None:
            assert du[i] is None, f"case {i}: spark NULL, duckdb {du[i]}"
        else:
            assert du[i] is not None and abs(sp[i] - du[i]) < 1e-9, (
                f"case {i}: spark {sp[i]}, duckdb {du[i]}"
            )
