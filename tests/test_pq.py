"""Product quantization (operators/pq.py): codebook invariants, code
coverage, ADC + rerank behavior, encode plan shape."""

from __future__ import annotations

from gpt4ocontentextraction_spark.operators import pq
from gpt4ocontentextraction_spark.plans.inspect import physical_plan

SF = "/root/testdata/sf0.001"


def _embeds(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_codebook_membership_partitions_corpus(spark):
    rows = pq.pq_codebooks(_embeds(spark)).collect()
    n_vec = _embeds(spark).count()
    for s in range(pq.PQ_M):
        # component pos 0 of every centroid in subspace s: members sum to n
        members = [r.n_members for r in rows if r.sub == s and r.pos == 0]
        assert sum(members) == n_vec
        assert all(m > 0 for m in members)
    # every present centroid has all PQ_D components
    keys = {(r.sub, r.j) for r in rows}
    for (s, j) in keys:
        assert len([r for r in rows if (r.sub, r.j) == (s, j)]) == pq.PQ_D


def test_codes_cover_every_vector_and_subspace(spark):
    rows = pq.pq_codes(_embeds(spark)).collect()
    n_vec = _embeds(spark).count()
    assert len(rows) == n_vec * pq.PQ_M
    assert all(0 <= r.code < pq.PQ_K for r in rows)
    cb = {(r.sub, r.j) for r in pq.pq_codebooks(_embeds(spark)).collect()}
    assert all((r.sub, r.code) in cb for r in rows)


def test_adc_topk_query_first_and_exact_sorted(spark):
    rows = pq.pq_adc_topk(spark, _embeds(spark)).collect()
    assert len(rows) == pq.PQ_TOPK
    assert rows[0].vec_id == pq.PQ_QUERY_ID and rows[0].exact_dist == 0
    exacts = [r.exact_dist for r in rows]
    assert exacts == sorted(exacts)
    # rerank restored exact order among candidates: adc order need not
    # match exact order, but every adc_dist is a genuine LUT sum >= 0
    assert all(r.adc_dist >= 0 for r in rows)


def test_encode_is_projection(spark):
    """After the codebook collect, encoding is one Arrow projection over
    the scan: no Exchange, no join."""
    plan = physical_plan(pq.pq_codes(_embeds(spark)))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "ArrowEvalPython" in plan, plan


def test_kernel_equals_oracle(spark):
    """The Arrow numpy kernels equal the DuckDB oracle (PQ_BASE_SQL) on
    every PQ relation at sf0.001 — quantization, codebook training,
    encode, ADC and exact rerank all integer/IEEE-identical."""
    from oracle_spec import run_both

    for name in ("pq_codebooks", "pq_codes", "pq_adc_topk"):
        # the top-k is ordered by (exact_dist, vec_id) on both engines
        got, want = run_both(spark, name, SF, ordered=name == "pq_adc_topk")
        assert got == want and len(got) > 0, name
