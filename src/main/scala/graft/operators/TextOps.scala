package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared text primitives for the LLM-pipeline operators (SURVEY.md §2.2).
  * Everything here is built from codegen'd builtin functions — no UDFs —
  * so a 100 TB documents scan stays inside whole-stage codegen.
  */
object TextOps {

  /** Whitespace tokens (the `documents` table is single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word w-shingles: `concat_ws(" ", toks[i..i+w-1])` for
    * i = 1..len-w+1; docs shorter than w yield no shingles. The DuckDB
    * oracle reproduces this with a list comprehension — the two must stay
    * in lockstep (see PipelineQueries). */
  def shingles(toks: Column, w: Int): Column = {
    val n = size(toks)
    array_distinct(
      when(n < w, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), n - (w - 1)),
          i => concat_ws(" ", slice(toks, i, lit(w))))))
  }

  /** Normalization for fingerprinting: lowercase, strip non-[a-z0-9 ],
    * collapse runs of spaces, trim. */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** Occurrence count of marker tokens (language-ID scoring) — one probe
    * of the native marker_counts hash map per token instead of an
    * interpreted filter+array_contains scan. */
  def markerCount(toks: Column, markers: Seq[String]): Column =
    element_at(graft.functions.GraftFunctions.marker_counts(toks, Seq(markers)), 1)
}
