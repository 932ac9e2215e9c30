"""NIF (RDF turtle) gold-annotation source — S8-lite.

The reference parses GERBIL's NIF wire format with the pynif library
(reference: src/gerbil_connect/nif_parser.py:5-47); the repo ships a real
public gold fixture, ``resources/data/aida_testc.ttl`` (131 docs, 4,028
mentions — README.md:258-260).  This adapter parses the line-structured
turtle Spark-side into two DataFrames, giving J6/J7 (span alignment +
metric counts) a genuine gold-span input instead of synthetic data:

* contexts: (doc_id INT, doc_uri STRING, text STRING)
* phrases:  (doc_id INT, begin INT, end INT, surface STRING, entity STRING)

Parser shape: each turtle block starts at ``<subject> a ...`` and carries
one predicate per line; a running ``last(subject)`` window groups lines by
block.  This handles the NIF files GERBIL and the
reference emit (one predicate per line, offset-based URIs); it is not a
general RDF parser.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_WIKI_PREFIX = "http://en.wikipedia.org/wiki/"

_TTL_HEADER = (
    "@prefix itsrdf: <http://www.w3.org/2005/11/its/rdf#> .\n"
    "@prefix nif: <http://persistence.uni-leipzig.org/nlp2rdf/ontologies/"
    "nif-core#> .\n"
    "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .\n"
)


def _unescape(col):
    """Turtle string unescape for the escapes GERBIL emits: \\\\ , \\" and
    \\n.  An escaped backslash is swapped to a \\x00 sentinel FIRST so a
    literal backslash followed by 'n' (wire form ``\\\\n``) is not wrongly
    decoded as a newline."""
    c = F.replace(col, F.lit("\\\\"), F.lit("\x00"))
    c = F.replace(c, F.lit("\\n"), F.lit("\n"))
    c = F.replace(c, F.lit('\\"'), F.lit('"'))
    return F.replace(c, F.lit("\x00"), F.lit("\\"))


def parse_nif_gold(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Parse a NIF turtle file into (contexts, phrases) DataFrames.

    Line order matters: the running last(subject) window attributes each
    triple line to the most recent subject block.  A plain line-based read
    would assign ``monotonically_increasing_id`` per SPLIT, and Spark
    packs splits sorted by size — a file larger than one split could have
    partitions out of file order and lines silently attributed to the
    wrong subject.  So the file is read ``wholetext`` and line-numbered
    with ``posexplode``: exact file order by construction, one scan task
    per file.  Gold NIF annotation sets are small (the full AIDA gold is
    a few MB); a multi-GB turtle corpus would need a per-block
    (blank-line-delimited) source instead — out of scope for gold files.
    """
    # \r?\n: the old line-based reader (Hadoop LineRecordReader) stripped
    # CRLF; the wholetext split must too, or end-anchored regexes below
    # silently match nothing on Windows-saved turtle files
    raw = spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias("file"),
        F.posexplode(F.split("value", "\r?\n")).alias("mono", "value"),
    )
    w = Window.partitionBy("file").orderBy("mono")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    subj_start = F.regexp_extract("value", r"^<(\S+)> a ", 1)
    lines = raw.withColumn(
        "subj",
        F.last(F.when(subj_start != "", subj_start), ignorenulls=True).over(cum),
    )
    fields = lines.select(
        "subj",
        F.regexp_extract("value", r"nif:isString \"(.*)\" \.$", 1).alias("is_string"),
        F.regexp_extract("value", r"nif:anchorOf \"(.*)\" ;$", 1).alias("anchor"),
        F.regexp_extract("value", r"nif:beginIndex \"(\d+)\"", 1).alias("begin_s"),
        F.regexp_extract("value", r"nif:endIndex \"(\d+)\"", 1).alias("end_s"),
        F.regexp_extract("value", r"nif:referenceContext <(\S+)>", 1).alias("ref"),
        F.regexp_extract("value", r"itsrdf:taIdentRef <(\S+)>", 1).alias("ident"),
        # 'a nif:Context,' / 'a nif:Context ;' but NOT nif:ContextCollection
        F.col("value").rlike(r" a nif:Context[,; ]").alias("is_context"),
    )
    nn = lambda c: F.max(F.when(F.col(c) != "", F.col(c))).alias(c)  # noqa: E731
    blocks = fields.groupBy("subj").agg(
        nn("is_string"), nn("anchor"), nn("begin_s"), nn("end_s"),
        nn("ref"), nn("ident"),
        F.max(F.col("is_context").cast("int")).alias("is_context"),
    )
    # try_cast, not cast: Catalyst collapses this projection into the
    # aggregate, so it evaluates on ALL groups — including the
    # nif:ContextCollection subject whose URI has no trailing /<n> (ANSI
    # cast('') would throw there even though the filter drops the row).
    doc_id_of = lambda c: F.regexp_extract(c, r"/(\d+)$", 1).try_cast("int")  # noqa: E731
    contexts = blocks.filter(
        (F.col("is_context") == 1) & F.col("is_string").isNotNull()
    ).select(
        doc_id_of(F.col("subj")).alias("doc_id"),
        F.col("subj").alias("doc_uri"),
        _unescape(F.col("is_string")).alias("text"),
    )
    phrases = blocks.filter(
        F.col("subj").contains("#offset_") & F.col("anchor").isNotNull()
    ).select(
        doc_id_of(F.col("ref")).alias("doc_id"),
        F.col("begin_s").try_cast("int").alias("begin"),
        F.col("end_s").try_cast("int").alias("end"),
        _unescape(F.col("anchor")).alias("surface"),
        F.replace(F.col("ident"), F.lit(_WIKI_PREFIX), F.lit("")).alias("entity"),
    )
    return contexts, phrases


def _escape(col):
    """Inverse of _unescape: turtle string escaping (backslash first, then
    quote, then newline — raw newlines are illegal inside single-quoted
    turtle literals and would also break the line-based parser)."""
    c = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit('"'), F.lit('\\"'))
    return F.replace(c, F.lit("\n"), F.lit("\\n"))


def _nni(col):
    return F.concat(F.lit('"'), col.cast("string"), F.lit('"^^xsd:nonNegativeInteger'))


def to_nif_turtle(contexts: DataFrame, phrases: DataFrame) -> DataFrame:
    """NIF sink (S8, the serialization half): annotated spans back to the
    turtle wire format GERBIL consumes (reference: context.add_phrase at
    src/spel/evaluate_local.py:61-66 + pynif serialization; '"' in entity
    titles is %22-escaped exactly as evaluate_local.py:66 does).

    contexts: (doc_id, doc_uri, text); phrases: (doc_id, begin, end,
    surface, entity).  Returns one row per document: (doc_id, turtle) —
    serialization is distributed; ``collect_turtle`` joins the blocks into
    one document string with the prefix header.

    Round-trip invariant (tested): parse_nif_gold(to_nif_turtle(parse(x)))
    == parse(x).
    """
    ctx_block = F.concat(
        F.lit("<"), F.col("doc_uri"), F.lit("> a nif:Context,\n"),
        F.lit("        nif:OffsetBasedString ;\n"),
        F.lit("    nif:beginIndex "), _nni(F.lit(0)), F.lit(" ;\n"),
        F.lit("    nif:endIndex "), _nni(F.length("text")), F.lit(" ;\n"),
        F.lit('    nif:isString "'), _escape(F.col("text")), F.lit('" .'),
    )
    ph = phrases.join(
        contexts.select("doc_id", "doc_uri"), "doc_id"
    ).select(
        "doc_id",
        F.struct("begin", "end", "surface", "entity", "doc_uri").alias("p"),
    )
    ph_block = lambda p: F.concat(  # noqa: E731
        F.lit("<"), p["doc_uri"],
        F.lit("#offset_"), p["begin"].cast("string"),
        F.lit("_"), p["end"].cast("string"),
        F.lit("> a nif:OffsetBasedString,\n        nif:Phrase ;\n"),
        F.lit('    nif:anchorOf "'), _escape(p["surface"]), F.lit('" ;\n'),
        F.lit("    nif:beginIndex "), _nni(p["begin"]), F.lit(" ;\n"),
        F.lit("    nif:endIndex "), _nni(p["end"]), F.lit(" ;\n"),
        F.lit("    nif:referenceContext <"), p["doc_uri"], F.lit("> ;\n"),
        F.lit("    itsrdf:taIdentRef <"), F.lit(_WIKI_PREFIX),
        F.replace(p["entity"], F.lit('"'), F.lit("%22")), F.lit("> ."),
    )
    ph_blocks = ph.groupBy("doc_id").agg(
        F.concat_ws(
            "\n\n",
            F.transform(
                F.array_sort(F.collect_list("p")), ph_block
            ),
        ).alias("phrase_blocks")
    )
    return (
        contexts.select("doc_id", ctx_block.alias("ctx_block"))
        .join(ph_blocks, "doc_id", "left")
        .select(
            "doc_id",
            F.concat_ws(
                "\n\n", F.col("ctx_block"), F.col("phrase_blocks")
            ).alias("turtle"),
        )
    )


def collect_turtle(doc_turtles: DataFrame) -> str:
    """Assemble the per-document blocks into one turtle document string
    (driver-side join of already-serialized blocks — the wire format is a
    single HTTP payload in the reference's serving flow).

    DRIVER-BOUNDARY ONLY: the collect here exists because a GERBIL-style
    shim consumes one in-memory string; it is bounded by that payload's
    size, not by corpus scale.  The distributed path is
    :func:`to_nif_turtle` — write its output with Spark, never through
    this function."""
    rows = doc_turtles.orderBy("doc_id").select("turtle").collect()
    return _TTL_HEADER + "\n" + "\n\n".join(r.turtle for r in rows) + "\n"
