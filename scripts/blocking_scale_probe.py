"""Quantify the rl_blocking_join super-linearity: block-size second
moments for B1 vs B2 at 40k and 400k entities, plus timed B2 runs and
recall — the cascade-mitigation evidence for the sf1 ledger (BENCH/BASELINE.md round-5 section)."""
import sys, time, json
from pathlib import Path
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
from record_linkage_spark.session import get_spark
from pyspark.sql import functions as F

def timed_best2(fn):
    t0=time.time(); fn(); t1=time.time()-t0
    t0=time.time(); out=fn(); t2=time.time()-t0
    return out, round(min(t1,t2),3)

spark = get_spark("bprobe", master="local[32]", shuffle_partitions=32)
from record_linkage_spark.operators.blocking import block_records, candidate_pairs
from record_linkage_spark.operators.rollup import rollup_conversations
from record_linkage_spark.synth.transcripts import generate_transcripts, hidden_key_table, transcripts_table

report = {}
for n_ent in (40_000, 400_000):
    raw = generate_transcripts(spark, n_entities=n_ent, dup_rate=1.6)
    transcripts = transcripts_table(raw).localCheckpoint()
    gt = hidden_key_table(raw).localCheckpoint()
    profiles = rollup_conversations(transcripts).localCheckpoint()
    r = {}
    for strat in ("B1", "B2"):
        recs, keys, _ = block_records(profiles, strat)
        sizes = recs.groupBy(*keys).count()
        agg = sizes.agg(
            F.count("*").alias("n_blocks"),
            F.max("count").alias("max_block"),
            F.sum(F.col("count")*F.col("count")).alias("sum_nk2"),
        ).first()
        r[strat] = {"n_blocks": agg.n_blocks, "max_block": agg.max_block,
                    "sum_nk2": int(agg.sum_nk2)}
    # timed B2 + recall
    cands, t = timed_best2(lambda: candidate_pairs(profiles, "B2").localCheckpoint())
    n_c = cands.count()
    true_pairs = (gt.alias("x").join(gt.alias("y"),
        F.col("x.entity_id")==F.col("y.entity_id"))
        .filter(F.col("x.conv_id")<F.col("y.conv_id"))
        .select(F.col("x.conv_id").alias("id_A"), F.col("y.conv_id").alias("id_B")))
    n_true = true_pairs.count()
    n_hit = true_pairs.join(cands.select("id_A","id_B"), ["id_A","id_B"], "left_semi").count()
    r["b2_seconds"] = t
    r["b2_cands"] = n_c
    r["b2_recall"] = round(n_hit/n_true, 4)
    report[str(n_ent)] = r
print(json.dumps(report))
spark.stop()
