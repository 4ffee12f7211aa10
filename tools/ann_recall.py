"""ANN recall@k vs the brute-force baseline — a real quality measurement
once the sf1 fixtures carry perturbed (near- but not identical) copies.

Round-3 VERDICT item 5: with vectors copied unperturbed, every ANN
method trivially recovered the exact top-k and all four queries hashed
identically, so the gate could not distinguish a working index from a
broken-but-lucky one. tools/gen_sf.py now perturbs each copy; this tool
records mean recall@k of each ANN query against q40's exact answer.

Round-6 additions: the PQ tier (q98/q99/q101/q102/q103) is measured
from its own ``hit`` self-report column (exact-L2 ground truth), and
``--curve`` records the pruning-vs-recall curve for the residual
IVFADC index: per nprobe, ADC-only recall@5 and refined recall@5
(shortlist r=100 + exact re-rank), both through ``ivf_adc_search``.
The curve is the evidence behind q103's nprobe=6 spec and the
BASELINE.md ANN recall section.

Usage: python tools/ann_recall.py [sf_dir] [--curve]
"""

from __future__ import annotations

import sys
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from etl_transparencia_sergipe_spark.plans.registry import queries
from etl_transparencia_sergipe_spark.session import get_spark

ANN = ["q44_lsh_ann_topk", "q45_lsh_multiprobe", "q46_ivf_ann_topk"]
PQ_TIER = ["q98_pq_ann_topk", "q99_pq_rerank_topk", "q101_ivfpq_topk",
           "q102_ivfpq_residual_topk", "q103_ivfpq_residual_refine_topk"]


def topk_sets(rows) -> dict:
    out = defaultdict(set)
    for r in rows:
        out[r.query_id].add(r.neighbor_id)
    return out


def curve(spark, sf_dir: str) -> None:
    """Pruning-vs-recall curve for the residual IVFADC index: train
    once (constants injected so every point shares the quantizer),
    then per nprobe measure ADC-only and refined recall@5 against the
    exact-L2 top-k."""
    from etl_transparencia_sergipe_spark.operators.similarity import (
        _train_sample,
        ivf_adc_search,
        l2_topk,
        train_quantizers,
    )
    from etl_transparencia_sergipe_spark.plans._helpers import load

    from etl_transparencia_sergipe_spark.plans.similarity_queries import (
        _Q103_SPEC,
    )

    r = _Q103_SPEC["r"]  # shortlist sized to near-tie multiplicity
    emb = (load(spark, "embeddings", sf_dir)
           .select("vec_id", "embedding").cache())
    X = _train_sample(emb, "vec_id", "embedding", 65536)
    consts = train_quantizers(X, n_cells=16, m=8, ksub=16, residual=True)
    exact = topk_sets(l2_topk(emb, k=5).collect())

    def recall(df) -> float:
        got = topk_sets(df.collect())
        per_q = [len(got.get(q, set()) & hits) / len(hits)
                 for q, hits in sorted(exact.items())]
        return sum(per_q) / len(per_q)

    print(f"residual IVFADC pruning-vs-recall @ {sf_dir} "
          f"(n_cells=16 m=8 ksub=16 r={r}, trained once)")
    print("nprobe  frac_codes_read  adc_recall@5  refined_recall@5")
    for nprobe in (1, 2, 4, 6, 8, 16):
        adc = recall(ivf_adc_search(emb, k=5, nprobe=nprobe,
                                    residual=True, **consts))
        ref = recall(ivf_adc_search(emb, k=5, nprobe=nprobe,
                                    residual=True, r=r, **consts))
        print(f"{nprobe:>6}  {nprobe / 16:>15.3f}  {adc:>12.3f}  "
              f"{ref:>16.3f}")


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/repo/.scratch/sf1"
    spark = get_spark("ann-recall")
    qs = queries()

    if "--curve" in sys.argv:
        curve(spark, sf_dir)
        return

    exact = topk_sets(qs["q40_knn_bruteforce"](spark, sf_dir).collect())
    print(f"{sf_dir}: {len(exact)} query vectors, k=5")
    for name in ANN:
        got = topk_sets(qs[name](spark, sf_dir).collect())
        per_q = [len(got.get(q, set()) & hits) / len(hits)
                 for q, hits in sorted(exact.items())]
        mean = sum(per_q) / len(per_q)
        print(f"  {name}: recall@5 = {mean:.3f} "
              f"(per-query {['%.1f' % r for r in per_q]})")
    # PQ tier: ground truth is exact L2, self-reported by each query's
    # hit column (1 = this returned neighbor is in the exact top-k)
    for name in PQ_TIER:
        rows = qs[name](spark, sf_dir).collect()
        mean = sum(r.hit for r in rows) / len(rows)
        print(f"  {name}: recall@5 = {mean:.3f} (hit self-report)")


if __name__ == "__main__":
    main()
