package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Generated-code vs interpreted parity for the r12 doGenCode conversions
  * (Shingle/Winnow/XxHash64Array/MinhashSigs/Simhash/SortedIntersectCount/
  * TokenTf/Pq*): every converted expression now has TWO execution paths —
  * `nullSafeEval` (interpreted) and the emitted call in `doGenCode` — and
  * nothing but convention keeps them pointed at the same shared method.
  * This spec runs the gate queries that exercise each expression under
  * both engine modes and asserts bit-identical result sets, so a future
  * edit that forks the paths (or a null-propagation slip in the generated
  * wrapper — empty-shingle NULLs, token-less simhash NULLs, malformed PQ
  * codes) fails loudly here instead of as an oracle hash mismatch.
  */
class CodegenParitySpec extends AnyFunSuite with SparkFixture {

  // One query per converted expression family (several cover two at once:
  // minhash = Shingle+MinhashSigs, ngram_jaccard = XxHash64Array+
  // SortedIntersectCount, ann_pq = PqEncode+PqAdc).
  private val queries = Seq(
    "q_dedup_minhash", // ShingleExpr + MinhashSigsExpr (null on empty)
    "q_dedup_simhash", // SimhashExpr (boxed-long null path)
    "q_ngram_jaccard", // XxHash64ArrayExpr + SortedIntersectCountExpr
    "q_fingerprint_winnow", // WinnowExpr
    "q_tfidf", // TokenTfExpr
    "q_ann_pq", // PqEncodeExpr + PqAdcExpr (addReferenceObj path)
    "q_contamination_bloom", // BloomHitsExpr (r13; addReferenceObj bitset)
    "q_dup_paragraphs", // TokenBlocksExpr (r13; null on token-less docs)
    "q_trim_spans", // ShingleExpr-positional + native tokens() (r13)
    "q_gopher_rules", // GopherStatsExpr (r13; struct-valued single pass)
    "q_normalize_unicode", // NfcNormalizeExpr (r14; zero-alloc fast path)
    "q_dsir_weights", // DsirBucketsExpr (r14; byte-digest bucket ids)
    "q_c4_rules", // C4StatsExpr (r15; struct-valued line-filter pass)
    "q_url_blocklist", // HostSuffixesExpr (r16; array-valued suffix fan)
    "q_fix_mojibake", // MojibakeRepairExpr (r17; zero-alloc clean path)
    "q_dedup_minhash_oph", // OphSigsExpr (r17; densified-bin null path)
    "q_phrase_blocklist", // PhraseHitsExpr (r17; addReferenceObj automaton)
    "q_script_profile", // ScriptStatsExpr (r17; struct-valued census)
    "q_dedup_jaccard_weighted", // SortedPairMinSumExpr (r19; struct-array merge)
    "q_quality", // QualityStatsExpr (r21; struct-valued single pass)
    "q_lang_id", // LangIdHitsExpr (r21; struct-valued inventory census)
    "q_ann_brute", // DotProductF (null-element check on array<float>)
    "q_ann_ivf" // CentroidScoresExpr (addReferenceObj scorer) + DotProductF
  )

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  for (q <- queries)
    test(s"$q: generated and interpreted paths agree row-for-row") {
      val gen = withModes(codegen = true) {
        rows(SparkEntry.queries(q)(spark, sf001))
      }
      val interp = withModes(codegen = false) {
        rows(SparkEntry.queries(q)(spark, sf001))
      }
      assert(gen.size == interp.size,
        s"$q: row count differs codegen=${gen.size} interpreted=${interp.size}")
      val diff = gen.zip(interp).collectFirst {
        case (a, b) if a != b => s"codegen=$a interpreted=$b"
      }
      assert(diff.isEmpty, s"$q: first differing row: ${diff.getOrElse("")}")
    }
}
