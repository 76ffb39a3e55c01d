package graft

/** Storage and the sinks. Every stored structure commits through one
  * of four protocols, and each protocol lives in one file:
  *
  *   - the WHOLE-TABLE SWAP, [[GenTable.replace]]: a complete next
  *     table staged beside the live one, then one pointer flip on a
  *     generation root or the [[StagedSwap]] swap on a flat table —
  *     bootstraps, compactions and [[MergeTable.merge]];
  *   - the TOUCHED-PARTITION COMMIT, [[PartCommit]]: the agg_part views'
  *     CDC refresh, staged parts under one commit marker and the
  *     `_applied` batch mark;
  *   - the PER-BATCH LOG, [[Overlays]]: one parquet file per batch and a
  *     `_done` commit marker, read back as the committed batches — the
  *     component relabels, the signature tombstones, the views'
  *     streaming `_deltas` (folded under [[ViewTable]]'s `_folded`
  *     mark) and the stream drivers' AMS partials and trending counts;
  *   - the MANIFEST LOG, [[Versioned]]: immutable batch dirs listed by
  *     an atomically published manifest per version.
  *
  * [[Versioned]] stays outside the other three because its contract is
  * different: it keeps every version readable (time travel) and lists
  * files in its manifest, where the swap and the per-batch log keep
  * one live table and find its files by listing. [[MergeTable]] is not
  * a protocol of its own: it computes the merged table and commits it
  * through the whole-table swap.
  */
package object io
