"""CSV/TSV document ingestion — the other wire format training-data
deliveries arrive in (index dumps, vendor exports, spreadsheet-born
metadata). Design contract:

* **Explicit schema + pinned column ORDER, never inference.** CSV has
  no field names on the wire; the delivery contract is positional
  (``doc_id, text, lang, source``). Schema inference would add a full
  pre-pass at 100 TB and drift with the input.
* **line-read + ``from_csv``, NOT the csv source's PERMISSIVE
  ``_corrupt_record``** — the same pruning trap as JSON: the corrupt
  column's population depends on which columns the parser is asked
  for, so a pruned plan classifies rows differently than a full read.
  ``from_csv`` over text lines is an ordinary expression, identical in
  every plan; ``.tsv.gz`` still decodes via the text source's codec
  inference.
* **Nothing dropped, nothing aborts.** Quarantine keeps every rejected
  raw line: wrong field count (a separator INSIDE an unquoted text
  field silently truncates text and swallows the tail — rejected, not
  guessed at), missing ``text``, or a ``doc_id`` field that does not
  parse as a number. Clean rows get the same derived hygiene columns
  as the JSONL path (``n_chars``, content-hash ``doc_id`` fallback).

Contract note: the default separator is TAB (the realistic document
delivery — prose is full of commas). Deliveries whose text itself
contains the separator cannot round-trip a positional format and
belong in JSONL; this loader quarantines such lines instead of
silently truncating them.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOC_CSV_SCHEMA = "doc_id long, text string, lang string, source string"
DOC_CSV_COLUMNS = ("doc_id", "text", "lang", "source")


def read_csv_docs(
    spark: SparkSession,
    path: str,
    sep: str = "\t",
    header: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Load a CSV/TSV documents delivery as ``(clean, quarantine)``.

    ``clean`` rows have exactly ``len(DOC_CSV_COLUMNS)`` fields and a
    non-null ``text``; ``doc_id`` falls back to a content hash (first
    15 hex digits of sha2(text), same fallback as the JSONL path) when
    the field is empty. ``quarantine`` preserves each rejected raw
    line: wrong field count, missing/empty ``text``, or a non-numeric
    ``doc_id``. ``header=True`` drops lines equal to the canonical
    header row (per-file header skipping is not a distributed-scan
    concept; an exact-match filter is, and a data row cannot collide
    with it — its ``doc_id`` field is non-numeric).

    One text scan feeds both frames; the parse is a
    whole-stage-codegen expression evaluated identically in every
    downstream plan."""
    raw = spark.read.text(path).select(F.col("value").alias("raw_line"))
    if header:
        raw = raw.filter(F.col("raw_line") != sep.join(DOC_CSV_COLUMNS))
    # quote="" DISABLES quote processing: parsing is purely positional,
    # so a quote character is data, never syntax -- otherwise an
    # unterminated quote swallows separators into text (a clean-looking
    # row with silently-mangled fields, the exact 'guessed at' outcome
    # this loader's contract forbids)
    c = F.from_csv(
        "raw_line", DOC_CSV_SCHEMA,
        {"sep": sep, "mode": "PERMISSIVE", "quote": ""},
    )
    # re.escape: split() takes a REGEX; a metachar separator ('|', '.')
    # would otherwise split on every character
    fields = F.split("raw_line", re.escape(sep))
    parsed = raw.select("raw_line", c.alias("c"), fields.alias("f"))
    n = len(DOC_CSV_COLUMNS)
    id_clash = (
        (F.col("f").getItem(0) != "") & F.col("c.doc_id").isNull()
    )
    bad = (
        (F.size("f") != n)
        | F.col("c").isNull()
        | F.col("c.text").isNull()
        | (F.col("c.text") == "")
        | id_clash
    )
    quarantine = parsed.filter(bad).select("raw_line")
    content_id = F.conv(
        F.substring(F.sha2(F.col("c.text"), 256), 1, 15), 16, 10
    ).cast("long")
    clean = parsed.filter(~bad).select(
        F.coalesce(F.col("c.doc_id"), content_id).alias("doc_id"),
        F.col("c.text").alias("text"),
        F.col("c.lang").alias("lang"),
        F.col("c.source").alias("source"),
        F.length("c.text").cast("long").alias("n_chars"),
    )
    return clean, quarantine
