package graft.tools

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Planted-fixture contract gate for the sf1 execute-only battery rows
  * (and a cheap invariant re-check at any SF): the corpus-quadratic
  * d/t/n/mm queries have no DuckDB twin at sf1 (the r9 convention
  * records them execute-only), but several carry PLANTED fixtures with
  * exact expected signatures — this main re-opens a graft.Verify
  * output directory and asserts each plant IS found, so silent sf1
  * drift (a plant lost to a data regen, a gate flipped false) fails
  * loudly instead of hiding behind "executed, rows > 0".
  *
  * Usage: ContractCheck <verifyOutDir> [contracts.json]
  * Writes {query: true|false} for every contract whose output parquet
  * exists (absent outputs are skipped — the battery's errors.json
  * already names those), exits non-zero if any contract is false.
  * scripts/merge_sf1.py merges the true rows as `"contract": true`. */
object ContractCheck {

  /** Per-query contract predicates over the dumped result parquet.
    * Every predicate is also true at sf0.001/0.01/0.1 — the plants are
    * SF-invariant by construction (fixtures bound to doc_id < 500 or
    * vec_id < 10 slices). */
  def contracts: Map[String, DataFrame => Boolean] = Map(
    // spanA (doc 3's 25 leading tokens) spliced into 1000007/1000011:
    // both recipients pair with the donor on ≥ 6 fully-in-span windows
    "d12_substring_dup" -> (df => df.filter(col("doc_a") === 3 &&
      col("doc_b").isin(1000007L, 1000011L) &&
      col("n_shared_windows") >= 6).count() == 2),
    // the arriving splice and the verbatim re-land both pair; the
    // corpus-resident donor/recipient pair must NOT re-surface
    // (the verbatim re-land of doc 490 is NOT asserted: doc 490 is
    // under 20 tokens at some SFs and legitimately emits no windows)
    "d13_substring_incremental" -> (df =>
      df.filter(col("doc_a") === 3 && col("doc_b") === 2000011L &&
        col("n_shared_windows") >= 6).count() == 1 &&
      df.filter(col("doc_a") === 3 && col("doc_b") === 1000007L).count() == 0),
    // maximal runs: one ≥25-token run vs 1000007, TWO diagonals vs
    // 1000011 (spliced twice), one ≥40-token run vs 1000013
    "d26_substring_runs" -> (df =>
      df.filter(col("doc_a") === 3 && col("doc_b") === 1000007L &&
        col("len_tokens") >= 25).count() >= 1 &&
      df.filter(col("doc_a") === 3 && col("doc_b") === 1000011L).count() >= 2 &&
      df.filter(col("doc_a") === 5 && col("doc_b") === 1000013L &&
        col("len_tokens") >= 40).count() >= 1),
    "d27_substring_runs_incremental" -> (df =>
      df.filter(col("doc_a") === 3 && col("doc_b") === 2000011L &&
        col("len_tokens") >= 25).count() >= 1 &&
      df.filter(col("doc_a") === 3 && col("doc_b") === 1000007L).count() == 0),
    // removal: every spliced recipient loses at least its span length
    // (overlapping natural cuts can only deepen the drop); donors keep
    // a nonempty rebuild
    "d28_substring_run_removal" -> { df =>
      val drops = df.filter(col("doc_id").isin(1000007L, 1000011L, 1000013L))
        .select(col("doc_id"), (col("n_tokens_before") - col("n_tokens_after")).as("d"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      drops.get(1000007L).exists(_ >= 25) &&
        drops.get(1000011L).exists(_ >= 50) &&
        drops.get(1000013L).exists(_ >= 40)
    },
    // the boilerplate cap: planted copies still pair with their
    // originals (the rarer-body-window anchor) — ≥ 150 of 200 (docs
    // under 20 tokens emit no windows at all and can't pair; ~20 of
    // the 200-doc slice at every SF) — and volume stays linear
    "d29_boilerplate_capped_runs" -> (df =>
      df.filter(col("doc_b") === col("doc_a") + 1000000L).select(col("doc_a"))
        .distinct().count() >= 150 && df.count() <= 5000),
    // the census holds the planted span's windows at df ≥ 201 (200
    // recipients + the donor; natural carriers of a span window can
    // only ADD — sf1 measured 203)
    "d30_hot_window_census" -> (df =>
      df.count() >= 1 && df.count() <= 6 &&
        df.filter(col("df") < 201L).count() == 0),
    // perceptual plants: ≥ 5 of the 20 one-byte-wobble copies pair
    // with their original at hamming ≤ 2
    "mm06_phash_dedup" -> (df =>
      df.filter(col("id_b") === col("id_a") + 2000000L &&
        col("hamming") <= 2).count() >= 5),
    // audio plants: amplitude-bump copies at hamming ≤ 2 and the
    // signed-branch (high-byte) copies both recalled
    "mm07_audio_dedup" -> (df =>
      df.filter(col("id_b") === col("id_a") + 4000000L &&
        col("hamming") <= 2).count() >= 5 &&
      df.filter(col("id_b") === col("id_a") + 5000000L).count() >= 3),
    // exact-then-near: the 200 byte-exact copies must NEVER surface as
    // pairs (their mass rides doc 3's group count, ≥ 201 incl. the
    // donor), while doc 3's perceptual wobble still pairs
    "mm12_exact_then_near_dedup" -> (df =>
      df.filter(col("id_a") >= 3000000L || col("id_b") >= 3000000L).count() == 0 &&
      df.filter(col("id_a") === 3 && col("id_b") === 2000003L &&
        col("hamming") <= 2 && col("n_a") >= 201L).count() == 1 &&
      df.filter(col("id_b") === col("id_a") + 2000000L &&
        col("hamming") <= 2).count() >= 5),
    // intra-doc plant: doc 1000009 is doc 9 plus doc 9's own leading
    // 25 tokens re-appended — removal must cut exactly that tail copy
    // (before = doc 9's + 25) and rebuild byte-exactly to doc 9's
    // cleaned text (any NATURAL self-repeat in doc 9 is excised from
    // both rows identically, so the equality is SF-invariant)
    "d31_self_repeat_removal" -> { df =>
      val rows = df.filter(col("doc_id").isin(9L, 1000009L))
        .select(col("doc_id"), col("n_tokens_before"), col("text_clean"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
        .toMap
      (for { (b9, t9) <- rows.get(9L); (bp, tp) <- rows.get(1000009L) }
        yield bp == b9 + 25 && tp == t9).getOrElse(false)
    },
    // ---- d02-family near-dup plants (r15 verdict #3): 20 corpus-
    // disjoint families (base 6000000+i, two identical copies at
    // 6100000+i/6200000+i = base + one token — see
    // TrainQueries.plantDocs) with EXACT SF-invariant signatures:
    // 60 pairs (J = 1 between the copies, 38/39 → 0.9744 to the base),
    // 60 graph nodes of degree 2, 20 triangles, flat PageRank. These
    // queries are exec-only at sf1 (the exact all-pairs twin is
    // intractable there); the plants are the loud-drift gate.
    "d02_minhash_lsh" -> (df =>
      df.filter(col("id_a") >= 6000000L).count() == 60 &&
      df.filter(col("id_a") >= 6100000L && col("jaccard") =!= 1.0)
        .count() == 0 &&
      df.filter(col("id_a").between(6000000L, 6099999L) &&
        col("jaccard") =!= 0.9744).count() == 0),
    // every plant lives in the arriving batch (ids ≥ 300), so the
    // incremental form must surface the full 60-pair plant too
    "d09_dedup_incremental" -> (df =>
      df.filter(col("id_a") >= 6000000L).count() == 60),
    // d03's plant is 20 byte-IDENTICAL pairs (hamming 0 — recall
    // GUARANTEED, unlike a near-copy whose lane-sum hamming is a
    // random walk past the 8-band pigeonhole), completing the
    // contract set: all 13 sf1 exec-only rows now gated
    "d03_simhash" -> (df =>
      df.filter(col("id_a") >= 6300000L && col("jaccard") === 1.0)
        .count() == 20 &&
      df.filter(col("id_a") >= 6300000L && col("jaccard") =!= 1.0)
        .count() == 0),
    // paragraph granularity: each family's 3 docs recompose into two
    // paragraphs — first halves identical (J=1), second halves differ
    // by the appended token (18/19 → 0.9474): 6 pairs × 20 families
    "d10_paragraph_dedup" -> (df =>
      df.filter(col("doc_a") >= 6000000L).count() == 120 &&
      df.filter(col("doc_a") >= 6000000L && col("jaccard") < 0.9474)
        .count() == 0),
    "d11_paragraph_dup_stats" -> (df =>
      df.filter(col("doc_id") >= 6000000L && col("n_paras") === 2 &&
        col("n_dup_paras") === 2 && col("dup_para_frac") === 1.0)
        .count() == 60),
    // 60 planted nodes × 2 similars each (their family mates — under
    // the top-3 cap, and corpus-disjoint so nothing else ranks)
    "d19_similar_topk" -> (df =>
      df.filter(col("doc_id") >= 6000000L).count() == 120),
    // a symmetric triangle is PageRank-flat: every planted node keeps
    // exactly 1e6 integer-units through all 3 iterations (deg 2,
    // 150000 + 85% · 2·(1e6/2) = 1e6) — an exact replay pin
    "d21_dup_pagerank" -> (df =>
      df.filter(col("doc_id") >= 6000000L).count() == 60 &&
      df.filter(col("doc_id") >= 6000000L &&
        (col("outdeg") =!= 2 || col("rank") =!= 1000000L)).count() == 0),
    "d23_minhash_calibration" -> (df =>
      df.filter(col("id_a") >= 6000000L).count() == 60 &&
      df.filter(!col("est_within")).count() == 0),
    "d25_triangle_count" -> (df =>
      df.filter(col("doc_id") >= 6000000L && col("deg") === 2 &&
        col("n_tri") === 1).count() == 60),
    // ---- BPE twins (t23/t24 are exec-only at sf1: 8 corpus-wide
    // chained merge rounds): plants would CHANGE the learned merges,
    // so these gate replay INVARIANTS instead — greedy-max training
    // means round counts are positive and non-increasing, merges are
    // distinct, and `merged` is the concatenation of its parts.
    "t23_bpe_train" -> { df =>
      val rows = df.select(col("round"), col("left"), col("right"),
        col("merged"), col("n")).collect().sortBy(_.getLong(0))
      rows.length == 8 &&
        rows.map(_.getLong(0)).sameElements(1L to 8L) &&
        rows.forall(r => r.getLong(4) > 0 &&
          r.getString(3) == r.getString(1) + r.getString(2)) &&
        rows.sliding(2).forall(w => w(0).getLong(4) >= w(1).getLong(4)) &&
        rows.map(r => (r.getString(1), r.getString(2))).distinct.length == 8
    },
    "t24_bpe_token_count" -> (df =>
      df.count() > 0 && df.filter(col("n_bpe_tokens") < 1).count() == 0),
    // the measured recall gates must hold wherever the battery runs
    "n19_graph_ann" -> (df => df.filter(!col("graph_ge_ivf")).count() == 0 &&
      df.count() == 10),
    "n20_hnsw_ann" -> (df => df.filter(!col("hnsw_ge_graph")).count() == 0 &&
      df.count() == 10),
    // hot-balanced image dedup: the one-byte wobble copies pair with
    // their source at hamming ≤ 2 (≥ 5 of the 20 — short docs emit no
    // window), and the TRIANGLE-ONLY plant (2100000/2100001: band 0
    // is the hot letterhead value, bands 1–7 each differ by one bit,
    // hamming exactly 7) must appear — that pair shares NO cold band,
    // so only the hot branch's triangle decomposition can block it;
    // a hot-path regression fails here even where the all-pairs twin
    // is intractable (r15 advice: the wobble copies alone also block
    // on their six untouched cold bands and could not catch that)
    "mm13_phash_hot_balanced" -> (df =>
      df.filter(col("id_b") === col("id_a") + 2000000L &&
        col("hamming") <= 2).count() >= 5 &&
      df.filter(col("id_a") === 2100000L && col("id_b") === 2100001L &&
        col("hamming") === 7).count() == 1),
    // maintenance gates: the incrementally-maintained index must stay
    // within 2 hits of its from-scratch rebuild (the columns the
    // Verify form computes; the bench twin elides the rebuild, so
    // this is where the gate fails loudly outside the oracle compare
    // — r14 verdict #6)
    "n22_graph_insert" -> (df =>
      df.filter(!col("incr_ge_rebuilt")).count() == 0 && df.count() == 10),
    "n23_tower_insert" -> (df =>
      df.filter(!col("incr_ge_rebuilt")).count() == 0 && df.count() == 10))

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val jsonOut = args.lift(1).getOrElse(s"$outDir/contracts.json")
    val spark = graft.GraftSession.build()
    val results = contracts.toSeq.sortBy(_._1).flatMap { case (name, check) =>
      val path = s"$outDir/$name"
      if (!Files.exists(Paths.get(path))) None
      else Some(name -> (try check(spark.read.parquet(path))
      catch { case e: Throwable =>
        System.err.println(s"[contract] $name errored: ${e.getMessage}"); false
      }))
    }
    Files.writeString(Paths.get(jsonOut), graft.Json.write(ListMap(results: _*)))
    results.foreach { case (k, v) =>
      println(s"[contract] ${if (v) "PASS" else "FAIL"} $k")
    }
    spark.stop()
    // zero contracts evaluated means outDir was wrong or held none of
    // the contract outputs — the gate must fail loudly, not write '{}'
    // and exit 0 (the r12 advisor's silent-no-op finding)
    if (results.isEmpty) {
      System.err.println(
        s"[contract] ERROR: no contract outputs found under $outDir — " +
          "wrong directory, or the battery produced none of the gated queries")
      sys.exit(2)
    }
    if (results.exists(!_._2)) sys.exit(1)
  }
}
