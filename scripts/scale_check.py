"""sf0.1 → sf1 scaling spot-check (VERDICT r05 next-round #6).

The driver ships no sf1 testdata, so a 10× `documents` table is
synthesized ONCE from sf0.1: ten copies, copy i's text passed through an
i-rotated lowercase-alphabet substitution (translate — cheap, JVM-side,
deterministic). Rotation makes every copy's shingles/tokens DISTINCT from
every other copy's, so dedup-family queries see the equivalent of fresh
data (10× corpus ⇒ ~10× work for a linear operator) instead of 10-clique
planted duplicates that would super-linearize components/clustering by
construction. doc_ids shift by i·10M; all other tables are reused from
sf0.1 (the five measured queries read only `documents`).

Run:  python scripts/scale_check.py
Writes SCALE_CHECK_r{ROUND}.json (SPARK_GRAFT_ROUND, default 09) at the
repo root: per query and scale, ``profile_registry.time_reps`` runs one
warm-up rep (its wall time kept as ``warmup_sec``) and 3 timed reps, each
after ``bench.clear_caches``; the row holds the median at sf0.1 and sf1 and
the slope vs the 10× row ratio. Round 7 adds a
10× embeddings synth (dim-rolled copies) for the vector-family queries.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import string
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

REPO = Path(__file__).resolve().parent.parent
SF01 = Path("/root/testdata/sf0.1")
SF1 = REPO / ".sfdata" / "sf1"
COPIES = 10
SHIFT = 10_000_000
QUERIES = (
    "decontam_bloom_membership",
    "pipeline_dedup_keep_best",
    "dedup_components",
    "dedup_ngram_jaccard",
    "text_winnow_fingerprints",
    # round-6 late adds that read `documents` (the table the sf1 synth
    # scales); the rotation keeps their grams distinct per copy so a
    # linear operator sees ~10x work
    "text_crossdup_coverage",
    "text_bigram_fluency",
    "text_vocab_growth",
    # the two checkpoint-optimized frame queries (read documents too)
    "mm_frame_near_dup",
    "mm_frame_dedup_collapse",
    # round-7: the rebuilt GEMM-sweep semantic dedup + the LSH family read
    # the 10x-synthesized embeddings table (VERDICT r06 #2's slope bar)
    "vec_semantic_dedup",
    "vec_lsh_portable",
    # round-10: the GEMM twin of the portable path shares the adaptive
    # width fix (choose_nbits) — its own slope row proves the bucketed
    # re-rank inherits the log-growth design
    "vec_bucketed_near_dup",
    # round-8 (VERDICT r07 item 7): the two multi-operator pipeline
    # compositions — each chains 4-5 heavy operators over documents, so a
    # slope row proves the composition (not just each stage) stays
    # sub-linear-per-row at 10x
    "pipeline_pretraining_corpus",
    "pipeline_leakage_safe_split",
    # round-8 late adds: the PQ family (fit + codes + ADC serve over the
    # 10x embeddings — linear in corpus: m·k rounded distances per vector
    # per round) and hybrid RRF (both legs linear scans; fusion constant)
    "vec_pq_adc_topk",
    "search_hybrid_rrf",
    # late-r08 adds over the scaled tables: IVF-PQ (embeddings), TF-IDF
    # keywords and PMI collocations (documents)
    "vec_ivfpq_topk",
    "text_tfidf_keywords",
    "text_pmi_cooccurrence",
    # second-session r08 add over documents: SNM — the sort-as-candidate-
    # generator dedup; expected ~n·log n (one range exchange) + linear
    # window verify
    "dedup_sorted_neighborhood",
    # third-session r08 adds over the scaled tables: embedding decontam
    # (corpus × broadcast bench — linear), Matryoshka recall (two
    # broadcast top-k legs — linear), cluster-balanced sampling (Lloyd
    # rounds linear + one window), label drift ((label, part, dim)
    # partial sums — linear), fertility (two lang-keyed aggs — linear),
    # dataset card (one pass + fingerprint agg — linear)
    "decontam_embedding",
    "vec_matryoshka_recall",
    "sample_cluster_balanced",
    "vec_label_drift",
    "text_fertility_by_lang",
    "pipeline_dataset_card",
    # r09 add over documents: substring-dedup spans — linear shingle
    # projection + frequency hash-agg + position join + doc-keyed window
    "dedup_duplicate_spans",
    "pipeline_span_dedup_rewrite",
    # round-10: the hash-keyed span twin (8-byte shuffle keys) and the
    # real-WAV codec path (two mapInPandas passes, zero shuffle — slope
    # should be ~linear in docs)
    "dedup_duplicate_spans_fast",
    "mm_audio_decode_features",
    # round-10 corpus-filter suite (all over documents): Gopher rules are
    # a zero-join map + rollup (linear); unigram LM is explode + vocab agg
    # + token join + doc agg (linear in token mass — vocab stays fixed
    # under the rotation synth's 26-letter permutations? NO: rotation
    # creates distinct tokens per copy, so vocab grows 10x too, still
    # linear); epoch shuffle is hash + shard-partitioned window (n log
    # n/shards)
    "text_gopher_rules",
    "text_unigram_lm_score",
    "pipeline_epoch_shuffle",
    # round-10: the BMP codec twin of the WAV path — same two-mapInPandas
    # zero-shuffle shape, slope should match mm_audio's ~linear
    "mm_image_decode_features",
    # late round-10: the AVI chunk-tree path (same shape, more bytes/doc)
    "mm_video_decode_features",
    # late round-10: decode -> fingerprint -> banded near-dup join; the
    # banded candidate join bounds pair growth like the MinHash device
    "mm_audio_near_dup",
    # round-11 (VERDICT r10 item 5): the top-5 most expensive registry
    # cells all get slope rows. dedup_sorted_neighborhood and
    # mm_frame_dedup_collapse already have r09 rows and are re-measured;
    # these three are new to the harness. dedup_lsh_recall composes the
    # MinHash-LSH candidate device with an exact-Jaccard verify (banded —
    # expected ~linear); vec_pq_recall_sweep is 4 sample-fit PQ configs
    # (Lloyd passes linear in the 25% training sample, ADC linear in the
    # corpus); vec_ann_recall's exact leg is a corpus-wide blocked GEMM —
    # O(n²) BY DEFINITION of an exact-recall measurement, so its slope is
    # expected ~quadratic-plus-shuffle and documented as inherent cost
    # (the query's own docstring mandates a sampled exact side at corpus
    # scale; the production ANN path itself is the banded/bucketed family
    # with measured ~2x/10x slopes).
    "dedup_lsh_recall",
    "vec_pq_recall_sweep",
    "vec_ann_recall",
    # round-12 (VERDICT r11 item 3): the streaming family — the only
    # operator family with no slope evidence, and the family whose
    # committed-bench cells inflate worst under host steal. These read the
    # r12 10x EVENTS synth (10 user/event-id-shifted copies over the SAME
    # 30-day range — state keys scale 10x, the window count stays fixed,
    # which is the scale direction a production stream actually sees).
    # Expected shapes: tumbling = watermarked shuffle agg, linear rows into
    # a fixed window set; dedup = state-store insert per key, linear keys
    # (2x-staged source doubles the row mass at every scale); attribution
    # = sessionization via applyInPandasWithState, linear in per-user
    # event mass (users scale, per-user history fixed).
    "events_stream_tumbling",
    "events_stream_dedup",
    "events_stream_attribution",
    # r13 (VERDICT r12 item 3) — the last two streaming rows. Stream-stream
    # join: both sides watermarked with a bounded time condition, so buffer
    # state is (rows within the join horizon) — linear rows in, fixed
    # horizon; expect ~linear. User profile: additive per-key
    # applyInPandasWithState accumulator — linear in per-key event mass,
    # same per-key Python floor class as attribution (users scale 10x).
    "events_stream_stream_join",
    "events_stream_user_profile",
)


def build_sf1(spark) -> None:
    from pyspark.sql import functions as F

    if not (SF1 / "documents.parquet").exists():
        SF1.mkdir(parents=True, exist_ok=True)
        base = spark.read.parquet(str(SF01 / "documents.parquet"))
        alpha = string.ascii_lowercase
        parts = []
        for i in range(COPIES):
            rot = alpha[i:] + alpha[:i]
            parts.append(
                base.select(
                    (F.col("doc_id") + i * SHIFT).alias("doc_id"),
                    F.translate(
                        F.col("text"), alpha + alpha.upper(), rot + rot.upper()
                    ).alias("text"),
                    *[c for c in base.columns if c not in ("doc_id", "text")],
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.repartition(32).write.mode("overwrite").parquet(
            str(SF1 / "documents.parquet")
        )
        for f in SF01.glob("*.parquet"):
            if f.stem != "documents":
                dst = SF1 / f.name
                if not dst.exists():
                    if f.is_dir():
                        shutil.copytree(f, dst)
                    else:
                        shutil.copy(f, dst)

    # 10x embeddings (round 7, for the vector-family slope checks): copy i
    # rolls each embedding left by i dims and shifts ids — same norms, all
    # copies pairwise distinct (random near-orthogonal vectors stay
    # near-orthogonal under rotation), so the dedup/ANN operators see ~10x
    # fresh vectors rather than planted 10-cliques.
    #
    # label=0 is the decontam BENCHMARK set, which is fixed-size by
    # definition (real corpora scale; benchmarks don't). Copies i>=1
    # relabel their label-0 rows to -1 so the bench set stays the base
    # copy's — otherwise the bench x corpus product scales 100x and the
    # decontam slope measures the synth, not the corpus scan (VERDICT r08
    # item 4: slope 6.16 with a 60.8 s rep was this artifact). Marker v2
    # forces a one-time resynthesis of any pre-fix sf1 table.
    marker = SF1 / ".emb10x_v2"
    if not marker.exists():
        base = spark.read.parquet(str(SF01 / "embeddings.parquet"))
        dim = len(base.select("embedding").first()[0])
        parts = []
        for i in range(COPIES):
            rolled = F.concat(
                F.slice(F.col("embedding"), (i % dim) + 1, dim - (i % dim)),
                F.slice(F.col("embedding"), 1, i % dim),
            )
            extra = [c for c in base.columns if c not in ("vec_id", "embedding")]
            if i > 0 and "label" in extra:
                extra.remove("label")
                extra.append(
                    F.when(F.col("label") == 0, F.lit(-1))
                    .otherwise(F.col("label"))
                    .alias("label")
                )
            parts.append(
                base.select(
                    (F.col("vec_id") + i * SHIFT).alias("vec_id"),
                    rolled.alias("embedding"),
                    *extra,
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.repartition(32).write.mode("overwrite").parquet(
            str(SF1 / "embeddings.parquet")
        )
        marker.touch()

    # 10x events (round 12, for the streaming-family slope checks): copy i
    # shifts event_id AND user_id by i·10M over the SAME 30-day window —
    # state keys (dedup event_ids, per-user session/profile state) scale
    # 10x while the window set stays fixed, the direction a production
    # stream scales in. Built with pyarrow, NOT a Spark write: the source
    # must stay ONE parquet file with the original physical schema
    # (timestamp[us]) because the stream runners stage it per-trigger via
    # shutil.copy. Marker forces the one-time overwrite of the plain
    # sf0.1 copy that the generic table-copy loop above may have left.
    ev_marker = SF1 / ".events10x_v1"
    if not ev_marker.exists():
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        base_t = pq.read_table(str(SF01 / "events.parquet"))
        parts_t = []
        for i in range(COPIES):
            t = base_t
            if i:
                t = t.set_column(
                    t.schema.get_field_index("event_id"),
                    "event_id",
                    pc.add(t["event_id"], i * SHIFT),
                ).set_column(
                    t.schema.get_field_index("user_id"),
                    "user_id",
                    pc.add(t["user_id"], i * SHIFT),
                )
            parts_t.append(t)
        pq.write_table(
            pa.concat_tables(parts_t), str(SF1 / "events.parquet")
        )
        ev_marker.touch()


def main() -> None:
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark import (
        queries as registry,
    )
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.session import (
        get_spark,
    )

    from profile_registry import time_reps

    spark = get_spark("phsqis-scale-check")
    build_sf1(spark)
    qs = registry.queries()
    # incremental mode: name queries on argv to (re)measure ONLY those,
    # merged into the existing SCALE_CHECK json (late-round adds shouldn't
    # force a ~25 min full re-measure of 14 settled rows)
    names = tuple(sys.argv[1:]) or QUERIES
    rnd = os.environ.get("SPARK_GRAFT_ROUND", "09").lstrip("r").zfill(2)
    path = REPO / f"SCALE_CHECK_r{rnd}.json"
    out: dict[str, dict] = (
        json.loads(path.read_text()) if path.exists() and sys.argv[1:] else {}
    )
    for name in names:
        fn = qs[name]
        row = {}
        for label, sf_dir in (("sf0.1", str(SF01)), ("sf1", str(SF1))):
            recs, _ = time_reps(spark, fn, sf_dir, 3, f"{name}-{label}")
            reps = [r["wall_s"] for r in recs[1:]]
            row[label] = {
                "median_sec": statistics.median(reps),
                "reps": reps,
                "warmup_sec": recs[0]["wall_s"],
            }
        ratio = round(row["sf1"]["median_sec"] / row["sf0.1"]["median_sec"], 2)
        row["slope_vs_10x_rows"] = ratio
        row["superlinear"] = ratio > 15.0  # 1.5× headroom over the 10× row ratio
        out[name] = row
        print(f"MARKER {name} sf0.1={row['sf0.1']['median_sec']}s "
              f"sf1={row['sf1']['median_sec']}s slope={ratio}x", flush=True)
    path.write_text(json.dumps(out, indent=1) + "\n")
    print(f"MARKER wrote {path.name}")
    spark.stop()


if __name__ == "__main__":
    main()
