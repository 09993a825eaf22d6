"""Distributed N-Triples reader.

Reference counterpart: the sequential line parser in reference
main.py:70-115 (``read_nt``) and the multiprocessing splitter in
scripts/index.py. Spark-first re-design: ``spark.read.text`` gives a
distributed scan of any number of (optionally gzipped) files; parsing is
JVM-side regex (``regexp_extract`` — whole-stage codegen), so ingest
scales with executors instead of one Python process.

Semantics preserved (reference main.py:88-115):
- lines must end in `` .``; subject is an IRI or blank node, predicate
  an IRI; everything after the predicate is the object term (the
  reference does ``o = " ".join(parts[2:])`` — no inline 4th term);
- ``\\uXXXX`` / ``\\UXXXXXXXX`` escapes are decoded (main.py:39-63) —
  rare rows only, via an Arrow-batched pandas UDF;
- TriG graph blocks (``<g> {`` ... ``}``) are a line-spanning stateful
  construct and can't be partition-parallel; pass ``graph=`` to tag a
  whole file instead (one build call per named graph).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..session import ensure_parallelism

_decode_cache = []


def _decode_escapes_udf(col):
    """Decode \\uXXXX / \\UXXXXXXXX (W3C N-Triples UCHAR) via an
    Arrow-batched pandas UDF — created lazily (needs a live session).
    Inputs are masked to null for escape-free rows (the common case),
    so the batch is scanned with one vectorized ``notna`` and the
    Python-level regex substitution runs only on the escape-bearing
    subset — never 3 × corpus Python calls over Nones."""
    if not _decode_cache:

        @pandas_udf("string")
        def decode(s):
            import re

            pat_u = re.compile(r"\\u([0-9a-fA-F]{4})")
            pat_U = re.compile(r"\\U([0-9a-fA-F]{8})")

            def dec(x):
                x = pat_U.sub(lambda m: chr(int(m.group(1), 16)), x)
                return pat_u.sub(lambda m: chr(int(m.group(1), 16)), x)

            mask = s.notna()
            if not mask.any():
                return s
            s = s.copy()
            s[mask] = s[mask].map(dec)
            return s

        _decode_cache.append(decode)
    return _decode_cache[0](col)


def parse_nt_lines(lines: DataFrame, fan_out: int | None = None) -> DataFrame:
    """Parse a one-string-column ``value`` frame of N-Triples lines into
    (s, p, o) string columns, dropping malformed lines. Reproduces the
    reference's split-on-single-space semantics (main.py:99-107:
    ``parts = line.split(" ")``, object = parts[2:] rejoined) exactly.

    Two plan-shape decisions here, both measured at sf1 (11M lines,
    ~5× total):

    - The token array is aliased behind a constant-true
      ``rand() * 0.0 <= 0.5`` guard, which marks the projection
      non-deterministic. Without it, CollapseProject inlines the alias
      into every consumer and PushDownPredicate substitutes it into
      every validity clause — the physical plan ends up evaluating the
      whole trim/substring/split chain ~9× per line (once per output
      column and predicate; measured 44 s). The guard is a Catalyst
      barrier for exactly this: the split runs ONCE and every
      downstream operator references the materialized column
      (verified: 1 `split(` in the optimized plan). The arithmetic is
      load-bearing: Spark 4 constant-folds DIRECT rand-vs-literal
      comparisons with out-of-range literals, and
      ``monotonically_increasing_id`` is rejected in streaming plans.
      Values are unaffected (the guard is always true), so task
      retries still recompute identical rows.
    - gzip dump parts are not splittable; a dump with one big .gz
      member parses single-threaded no matter how many cores exist.
      The optional ``fan_out`` repartition spreads the array rows to
      ``fan_out`` partitions before the s/p/o projection, only when the
      input arrives in fewer splits (``ensure_parallelism``): a dump
      already that wide parses in place, and one with more splits
      keeps them.

    Streaming-safe: stateless expressions + repartition both compose
    with readStream (a streaming frame always takes the repartition).
    Pass ``fan_out=None`` to skip the exchange when a later stage
    shuffles immediately anyway."""
    pre = _nt_token_arrays(lines, fan_out)
    return (
        pre.filter(F.size("arr") >= 3)
        .select(
            F.col("arr")[0].alias("s"),
            F.col("arr")[1].alias("p"),
            F.concat_ws(" ", F.expr("slice(arr, 3, size(arr) - 2)")).alias("o"),
        )
        .filter(_term_validity())
    )


def _nt_token_arrays(lines: DataFrame, fan_out: int | None) -> DataFrame:
    """The shared barrier stage: terminated lines → whitespace token
    arrays (see parse_nt_lines for why the guard and the exchange)."""
    pre = (
        # cheap pre-filter below the barrier so malformed lines don't
        # ship; `like '% .'` keeps only terminated statements
        lines.filter(F.expr("trim(value) like '% .'")).select(
            F.expr(
                "if(rand() * 0.0 <= 0.5,"
                " split(rtrim(substring(trim(value), 1, length(trim(value)) - 2)), ' '),"
                " null)"
            ).alias("arr")
        )
    )
    if fan_out:
        pre = ensure_parallelism(pre, min_partitions=fan_out)
    return pre


def _term_validity():
    return (
        (
            (F.col("s").startswith("<") & F.col("s").endswith(">"))
            | F.col("s").startswith("_:")
        )
        & F.col("p").startswith("<")
        & F.col("p").endswith(">")
        & (F.col("o") != "")
    )


def parse_nq_lines(lines: DataFrame, fan_out: int | None = None) -> DataFrame:
    """Parse N-Quads lines into (s, p, o, g) — N-Triples plus an
    optional graph-label 4th term (W3C N-Quads; the reference has no
    N-Quads path — its ``read_nt`` folds a 4th term INTO the object).

    Graph detection is purely token-shaped and sound for valid
    N-Quads: a statement has a graph iff it has ≥ 4 tokens AND the
    last token is an IRI or blank-node label. A literal object can
    never end the line with a bare IRI token — its final token always
    carries the closing quote or a ``"^^<dt>`` / ``"@lang`` suffix
    attached to it, so it fails the IRI shape.  The blank-node branch
    needs the same guard spelled out: a literal ending in a
    blank-node-shaped word (``<s> <p> "foo _:bar" .``) yields a final
    token ``_:bar"`` that STARTS with ``_:`` but still carries the
    closing quote — so a true graph label must both start with ``_:``
    and contain no ``"`` anywhere."""
    pre = _nt_token_arrays(lines, fan_out)
    last = F.element_at(F.col("arr"), -1)
    has_g = (
        (F.size("arr") >= 4)
        & (
            (last.startswith("<") & last.endswith(">"))
            | (last.startswith("_:") & ~last.contains('"'))
        )
    )
    return (
        pre.filter(F.size("arr") >= 3)
        .select(
            F.col("arr")[0].alias("s"),
            F.col("arr")[1].alias("p"),
            F.when(
                has_g, F.concat_ws(" ", F.expr("slice(arr, 3, size(arr) - 3)"))
            )
            .otherwise(F.concat_ws(" ", F.expr("slice(arr, 3, size(arr) - 2)")))
            .alias("o"),
            F.when(has_g, last).otherwise(F.lit("")).alias("g"),
        )
        .filter(_term_validity())
    )


def read_nt(
    spark: SparkSession,
    paths: list[str] | str,
    graph: str = "",
    decode_escapes: bool = True,
) -> DataFrame:
    """Parse N-Triples text files (plain, .gz, or .bz2 — Hadoop codecs
    handle compression transparently) into string quads (s, p, o, g).
    Malformed lines are dropped, as in the reference.

    Codec guidance for big dumps: **bzip2 is splittable** — ONE
    .nt.bz2 file decodes in parallel across the cluster (Hadoop's
    Bzip2Codec implements SplittableCompressionCodec; measured at sf1:
    a single 39 MB .nt.bz2 ingested 2.5× faster than a multi-part .gz
    directory and 3× faster than the same dump as one .gz member,
    which decompresses on a single thread regardless of cores). gzip
    dumps parallelize only across FILES; the ``fan_out`` repartition
    below spreads the post-decode parse, but cannot parallelize the
    gzip decode itself."""
    if isinstance(paths, str):
        paths = [paths]
    try:
        fan_out = spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect: no SparkContext handle
        fan_out = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    out = parse_nt_lines(spark.read.text(paths), fan_out=fan_out).withColumn(
        "g", F.lit(graph)
    )
    if decode_escapes:
        out = _decode_frame(out, ("s", "p", "o"))
    return out


def read_nq(
    spark: SparkSession,
    paths: list[str] | str,
    decode_escapes: bool = True,
) -> DataFrame:
    """Parse N-Quads text files (plain or .gz) into string quads
    (s, p, o, g); statements without a graph label get ``g = ""``.
    Same distributed single-split parse plan as :func:`read_nt`."""
    if isinstance(paths, str):
        paths = [paths]
    try:
        fan_out = spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect: no SparkContext handle
        fan_out = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    out = parse_nq_lines(spark.read.text(paths), fan_out=fan_out)
    if decode_escapes:
        out = _decode_frame(out, ("s", "p", "o"))
    return out


def _decode_frame(out: DataFrame, cols: tuple) -> DataFrame:
    """Apply the UCHAR escape decode to ``cols``. The Python UDF is
    extracted into its own ArrowEvalPython stage that runs over EVERY
    row no matter what the when() guard says — so mask its INPUT to
    null for escape-free rows: Arrow then ships validity bitmaps
    instead of the corpus strings, and the Python side skips all-null
    batches with one vectorized notna."""

    def _cond(c):
        return F.col(c).contains("\\u") | F.col(c).contains("\\U")

    keep = [c for c in out.columns if c not in cols]
    return out.select(
        *[
            F.when(_cond(c), _decode_escapes_udf(F.when(_cond(c), F.col(c))))
            .otherwise(F.col(c))
            .alias(c)
            for c in cols
        ],
        *keep,
    )


def read_trig(
    spark: SparkSession,
    paths: list[str] | str,
    decode_escapes: bool = True,
) -> DataFrame:
    """Parse TriG files into string quads (s, p, o, g).

    TriG's ``<graph> { ... }`` blocks look line-spanning-stateful, but
    the ONLY parser state is "the most recent block header" — the
    reference's quirk that a ``}`` line does NOT reset the current
    graph (main.py:88-99) makes every statement's graph a pure function
    of the last ``<g> {`` line above it. So the parse splits into two
    stages:

    1. a cheap per-file chunker (``wholetext`` → one regex split per
       file, C-speed, no per-line Python) cuts the text at block-header
       lines, emitting (g, chunk) rows — each chunk's graph is constant
       by construction;
    2. the chunks repartition to the session parallelism and the
       per-line work runs through the SAME vectorized JVM tokenizer as
       the N-Triples reader, with the chunk's ``g`` riding along.

    A multi-block file therefore parses across as many tasks as it has
    blocks (pinned by test); only a single enormous block is still
    sequential, as it is in the reference. Header detection matches the
    reference token-exactly: an unindented ``<token> {`` line, two
    space-separated parts, ignoring trailing whitespace.
    """
    if isinstance(paths, str):
        paths = [paths]
    files = spark.read.text(paths, wholetext=True)

    def chunk(batches):
        import re

        import pandas as pd

        # reference header check (main.py:91-97): rstrip'd line ends
        # with " {", starts with "<" (no leading whitespace), exactly
        # two space-separated tokens → the first token is the graph
        hdr = re.compile(r"^(<[^ ]*) \{[ \t\r\f\v]*$", re.M)
        for pdf in batches:
            gs, texts = [], []
            for content in pdf["value"]:
                pos, g = 0, ""
                for m in hdr.finditer(content):
                    if m.start() > pos:
                        gs.append(g)
                        texts.append(content[pos : m.start()])
                    g = m.group(1)
                    pos = m.end()
                gs.append(g)
                texts.append(content[pos:])
            yield pd.DataFrame({"g": gs, "chunk": texts})

    try:
        fan_out = spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect: no SparkContext handle
        fan_out = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    lines = (
        files.mapInPandas(chunk, "g string, chunk string")
        .repartition(fan_out)
        .select("g", F.explode(F.split("chunk", "\n")).alias("raw"))
        # the old per-line Python parser rstrip()ed every line; the
        # wholetext read keeps \r (CRLF files) and trailing tabs, and
        # Spark's trim() strips only spaces — normalize here or every
        # statement in a Windows-saved file fails the ' .' terminator
        # check and silently vanishes
        .select("g", F.regexp_replace(F.col("raw"), "[ \\t\\r\\f\\v]+$", "").alias("value"))
    )
    # same single-split barrier plan as parse_nt_lines (see its
    # docstring), with the chunk graph carried through
    pre = lines.filter(F.expr("trim(value) like '% .'")).select(
        "g",
        F.expr(
            "if(rand() * 0.0 <= 0.5,"
            " split(rtrim(substring(trim(value), 1, length(trim(value)) - 2)), ' '),"
            " null)"
        ).alias("arr"),
    )
    out = (
        pre.filter(F.size("arr") >= 3)
        .select(
            F.col("arr")[0].alias("s"),
            F.col("arr")[1].alias("p"),
            F.concat_ws(" ", F.expr("slice(arr, 3, size(arr) - 2)")).alias("o"),
            "g",
        )
        .filter(_term_validity())
    )
    if decode_escapes:
        out = out.select(
            *[
                F.when(
                    F.col(c).contains("\\u") | F.col(c).contains("\\U"),
                    _decode_escapes_udf(F.col(c)),
                )
                .otherwise(F.col(c))
                .alias(c)
                for c in ("s", "p", "o")
            ],
            "g",
        )
    return out


def literal_to_parts_cols(col):
    """Split a literal lexical form into (value, language, datatype)
    columns (reference main.py:22-36)."""
    value = F.regexp_extract(col, r'^"(.*)"', 1)
    language = F.regexp_extract(col, r'"@([A-Za-z0-9-]+)$', 1)
    datatype = F.regexp_extract(col, r'"\^\^(<[^>]*>)$', 1)
    return (
        F.when(col.startswith('"'), value).alias("literal_value"),
        F.when(language != F.lit(""), language).alias("language"),
        F.when(datatype != F.lit(""), datatype).alias("datatype"),
    )
