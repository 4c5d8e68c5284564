"""Crawl-ingest and text-extraction registry queries.

Moved verbatim out of operators/queries.py in the round-15 pure-move
split (VERDICT r14 task #6) — no semantic changes; the registry imports
all three modules, so query names and behavior are identical.

Each per-document query is a row generator, ``rows_for_doc(doc_id)``,
plus its output ``StructType``, run through ``localdf.map_docs``: the
helper fans the doc ids out and the declared schema types the output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyiceberg_lakehouse_spark.localdf import map_docs

from pyiceberg_lakehouse_spark.operators import text
from pyiceberg_lakehouse_spark.registry import register
from pyiceberg_lakehouse_spark.sources.testdata import load_table


@register(
    "scan_warc_revisits",
    # Common Crawl's URL-level dedup form: WARC-Type revisit records
    # carrying the original capture's payload digest + a refers-to
    # pointer. The reader must ROUTE them (a response walk that
    # misreads a revisit double-counts the page; a revisit walk that
    # drops the digest cannot deduplicate) — an interleaved response
    # record per doc pins the routing. The oracle restates every
    # header closed-form. Filter modulus 17 residue 1.
    """
    with base as (
      select doc_id, cast(doc_id as bigint) as d, 2 + doc_id % 3 as nr
      from documents where doc_id % 17 = 1
    )
    select doc_id,
      cast(i as integer) as rec_idx,
      'http://r.ex/' || d || '/' || i as uri,
      'sha1:DIG' || d || 'X' || i as digest,
      '<urn:rec:' || d || '-' || i || '>' as refers_to,
      '2020-03-' || lpad(cast(1 + (d + i) % 28 as varchar), 2, '0')
        || 'T00:00:00Z' as date,
      d % 2 = 1 as gzipped
    from base, unnest(generate_series(0, 4)) g(i) where i < nr
    """,
)
def scan_warc_revisits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC revisit records (operators/warc.py warc_revisits) — the
    URL-level dedup accounting Common Crawl emits when a refetch
    matches an earlier capture: per doc, build a WARC interleaving a
    normal response record (which must route AWAY) with revisit
    records carrying WARC-Payload-Digest + WARC-Refers-To, in both
    storage layouts by parity, then extract the revisit rows. The
    oracle restates every header closed-form; a digest-less revisit
    raises rather than passing an unusable dedup row. Arrow-batched
    mapInPandas, map-only."""
    from pyspark.sql import types as T

    from pyiceberg_lakehouse_spark.operators import warc as _warc

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 17 == 1)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("rec_idx", T.IntegerType()),
            T.StructField("uri", T.StringType()),
            T.StructField("digest", T.StringType()),
            T.StructField("refers_to", T.StringType()),
            T.StructField("date", T.StringType()),
            T.StructField("gzipped", T.BooleanType()),
        ]
    )

    def rows_for_doc(d):
        recs = [
            {
                "type": "response",
                "uri": f"http://r.ex/{d}/orig",
                "block": _warc.build_http_response(
                    200, "OK",
                    [("Content-Type", "text/html")],
                    f"orig-{d}".encode(),
                ),
            }
        ]
        for i in range(2 + d % 3):
            recs.append(
                {
                    "type": "revisit",
                    "uri": f"http://r.ex/{d}/{i}",
                    "digest": f"sha1:DIG{d}X{i}",
                    "refers_to": f"<urn:rec:{d}-{i}>",
                    "date": f"2020-03-{1 + (d + i) % 28:02d}T00:00:00Z",
                    "profile": (
                        "http://netpreserve.org/warc/1.1/"
                        "revisit/identical-payload-digest"
                    ),
                    "block": b"HTTP/1.1 304 Not Modified\r\n\r\n",
                }
            )
        gz = d % 2 == 1
        payload = _warc.make_warc(recs, gzip_records=gz)
        assert len(_warc.warc_responses(payload)) == 1
        for i, r in enumerate(_warc.warc_revisits(payload)):
            yield d, i, r["uri"], r["digest"], r["refers_to"], r["date"], gz

    return map_docs(docs, rows_for_doc, schema, sf_dir=sf_dir)


@register(
    "text_unicode_nfc",
    # Unicode normalization for dedup keys: the SAME text arrives from
    # crawls as NFD (e + combining acute) and NFC (precomposed é) —
    # byte-different, semantically identical, and a dedup key that
    # skips normalization splits the duplicate group. Inputs cycle
    # both forms plus an NFKC-only fold (the ﬁ ligature); the oracle
    # states the normalized STRINGS closed-form (DuckDB literals are
    # the precomposed forms). Filter modulus 17 residue 15.
    """
    with base as (
      select doc_id, cast(doc_id as bigint) as d
      from documents where doc_id % 17 = 15
    )
    select doc_id,
      'Café-' || d || ' ﬁne-' || (d % 7) as nfc,
      'Café-' || d || ' fine-' || (d % 7) as nfkc,
      d % 2 = 0 as was_decomposed,
      cast(length('Café-' || d || ' ﬁne-' || (d % 7))
           + case when d % 2 = 0 then 1 else 0 end as integer)
        as n_chars_raw,
      cast(length('Café-' || d || ' ﬁne-' || (d % 7)) as integer)
        as n_chars_nfc
    from base
    """,
)
def text_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode normalization (NFC for identity, NFKC for ligature
    folds) — the step a dedup key needs before hashing, because
    crawls deliver the same text in byte-different forms: per doc,
    build the input as NFD (e + COMBINING ACUTE) on even docs and
    precomposed NFC on odd ones, with an ﬁ ligature that only NFKC
    folds; normalize and report both forms plus the code-point counts
    proving the decomposed input really was longer. The oracle states
    the normalized strings closed-form. Arrow-batched mapInPandas,
    map-only."""
    import unicodedata


    from pyspark.sql import types as T

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 17 == 15)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("nfc", T.StringType()),
            T.StructField("nfkc", T.StringType()),
            T.StructField("was_decomposed", T.BooleanType()),
            T.StructField("n_chars_raw", T.IntegerType()),
            T.StructField("n_chars_nfc", T.IntegerType()),
        ]
    )

    def rows_for_doc(d):
        if d % 2 == 0:  # NFD: e + U+0301 COMBINING ACUTE
            raw = f"Cafe\u0301-{d} \ufb01ne-{d % 7}"
        else:  # precomposed NFC e-acute
            raw = f"Caf\u00e9-{d} \ufb01ne-{d % 7}"
        nfc = unicodedata.normalize("NFC", raw)
        nfkc = unicodedata.normalize("NFKC", raw)
        yield d, nfc, nfkc, d % 2 == 0, len(raw), len(nfc)

    return map_docs(docs, rows_for_doc, schema, sf_dir=sf_dir)


@register(
    "text_subtitle_cues",
    # Filter modulus 7 is coprime with the cue-count (%5), offset (%7
    # applies to start), multi-line (%2), markup (%3) and hour-form
    # (%3) knobs; format alternates srt/vtt by parity, so every parser
    # branch is live in the driver-hashed corpus.
    """
    with base as (
      select doc_id, cast(doc_id as bigint) as d, 3 + doc_id % 5 as n
      from documents where doc_id % 7 = 6
    ),
    c as (
      select doc_id, d, i,
             case when d % 2 = 0 then 'srt' else 'vtt' end as fmt,
             i * 2000 + (d % 7) * 100
               + case when d % 2 = 1 and d % 3 = 0
                      then 3600000 else 0 end as start_ms
      from base, unnest(generate_series(0, 7)) u(i) where i < n
    )
    select doc_id, fmt,
           cast(i as integer) as cue_idx,
           case when fmt = 'vtt' and i % 2 = 0 then 'id-' || i end as cue_id,
           cast(start_ms as bigint) as start_ms,
           cast(start_ms + 1500 + (i % 3) * 200 as bigint) as end_ms,
           case when fmt = 'srt' then
                  'cue-' || d || '-' || i ||
                  case when i % 2 = 1 then chr(10) || 'line2-' || i
                       else '' end
                else
                  'cue-' || d || '-' || i ||
                  case when i % 3 = 2 then ' <3' else '' end
           end as text,
           cast(case when fmt = 'srt' and i % 2 = 1 then 2 else 1 end
               as integer) as n_lines
    from c
    """,
)
def text_subtitle_cues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL subtitle parsing (operators/subtitles.py): per doc,
    synthesize an SRT (even docs: indexed cues, comma-decimal
    timestamps, multi-line text) or a WebVTT (odd docs: NOTE block, cue
    identifiers, dot-decimal timestamps in BOTH the hour and hour-less
    forms, cue settings after the arrow, <v>/<c> voice markup stripped,
    &lt; entities unescaped) sidecar, parse it strictly, and emit one
    row per cue. The oracle restates every timestamp, the stripped
    text, and the line counts closed-form — a timestamp-arithmetic
    slip, an unstripped tag, or a swallowed second line flips the
    hash. This is the video->caption extraction path of a training
    pipeline; hostile inputs are pytest-pinned (tests/test_subtitles)."""
    from pyspark.sql import types as T

    from pyiceberg_lakehouse_spark.operators import subtitles as sub

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 6)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("fmt", T.StringType()),
            T.StructField("cue_idx", T.IntegerType()),
            T.StructField("cue_id", T.StringType()),
            T.StructField("start_ms", T.LongType()),
            T.StructField("end_ms", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("n_lines", T.IntegerType()),
        ]
    )

    def rows_for_doc(d):
        fmt = "srt" if d % 2 == 0 else "vtt"
        cues = []
        for i in range(3 + d % 5):
            start = i * 2000 + (d % 7) * 100
            if fmt == "vtt" and d % 3 == 0:
                start += 3600000
            body = f"cue-{d}-{i}"
            if fmt == "srt" and i % 2 == 1:
                body += f"\nline2-{i}"
            if fmt == "vtt":
                body = f"<v Speaker{d % 3}>{body}</v>"
                if i % 3 == 2:
                    body += " &lt;3"
            cues.append(
                {
                    "start_ms": start,
                    "end_ms": start + 1500 + (i % 3) * 200,
                    "text": body,
                    "cue_id": f"id-{i}" if fmt == "vtt" and i % 2 == 0 else None,
                    "settings": fmt == "vtt" and i % 2 == 1,
                }
            )
        if fmt == "srt":
            parsed = sub.parse_srt(sub.make_srt(cues))
        else:
            parsed = sub.parse_webvtt(sub.make_vtt(cues))
        for i, c in enumerate(parsed):
            yield (
                d, fmt, i, c.get("cue_id"), c["start_ms"], c["end_ms"],
                c["text"], c["text"].count("\n") + 1,
            )

    return map_docs(docs, rows_for_doc, schema, sf_dir=sf_dir)


@register(
    "scan_sitemap_urls",
    # The crawl-frontier format: per doc either a <urlset> (2..5 page
    # entries with loc/lastmod/changefreq/priority) or, every fourth
    # doc, a <sitemapindex> (1..3 child-sitemap pointers — the
    # >50k-URL sharding shape). Parsing is Spark's native from_xml
    # (JVM, map-only); kind routing falls out of the root-element
    # schema. The oracle restates every field closed-form, priority
    # via the correctly-rounded /10 division both engines share.
    # Filter modulus 13 residue 3.
    """
    with base as (
      select doc_id, cast(doc_id as bigint) as d
      from documents where doc_id % 13 = 3
    ),
    pages as (
      select doc_id, d, i from base, unnest(generate_series(0, 5)) g(i)
      where d % 4 <> 0 and i < 2 + d % 4
    ),
    subs as (
      select doc_id, d, i from base, unnest(generate_series(0, 3)) g(i)
      where d % 4 = 0 and i < 1 + d % 3
    )
    select doc_id, 'urlset' as kind, cast(i as integer) as entry_idx,
           'https://site-' || (d % 7) || '.com/p/' || d || '/' || i as loc,
           '2025-' || lpad(cast(1 + (d + i) % 12 as varchar), 2, '0')
             || '-' || lpad(cast(1 + (d + 3*i) % 28 as varchar), 2, '0')
             as lastmod,
           case cast((d + i) % 3 as integer)
                when 0 then 'daily' when 1 then 'weekly'
                else 'monthly' end as changefreq,
           cast((d + i) % 10 as double) / 10 as priority
    from pages
    union all
    select doc_id, 'sitemapindex', cast(i as integer),
           'https://site-' || (d % 7) || '.com/sitemap-' || i || '.xml',
           '2025-' || lpad(cast(1 + (d + i) % 12 as varchar), 2, '0')
             || '-' || lpad(cast(1 + (d + 3*i) % 28 as varchar), 2, '0'),
           cast(null as varchar), cast(null as double)
    from subs
    """,
)
def scan_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap parsing (functions/sitemap.py) — the crawl-frontier
    companion to the robots.txt reader: per doc, build either a
    <urlset> page sitemap or a <sitemapindex> shard pointer file
    (namespace attribute included), parse it with Spark's NATIVE
    from_xml expression (kind detected by root-element schema — a
    wrong-root parse is NULL, so COALESCE routes), explode to one row
    per entry and report loc/lastmod/changefreq/priority. Pure JVM:
    no Python evaluator, no Exchange beyond the scan — the XML path
    stays inside codegen. The oracle restates every field
    closed-form."""
    from pyiceberg_lakehouse_spark.functions.sitemap import parse_sitemap

    d = F.col("doc_id")
    is_index = d % 4 == 0

    def lastmod(i):
        return F.concat(
            F.lit("2025-"),
            F.lpad(((d + i) % 12 + 1).cast("string"), 2, "0"),
            F.lit("-"),
            F.lpad(((d + 3 * i) % 28 + 1).cast("string"), 2, "0"),
        )

    def url_piece(i):
        cf = (
            F.when((d + i) % 3 == 0, "daily")
            .when((d + i) % 3 == 1, "weekly")
            .otherwise("monthly")
        )
        return F.when(
            F.lit(i) < 2 + d % 4,
            F.concat(
                F.lit("<url><loc>https://site-"), d % 7,
                F.lit(".com/p/"), d, F.lit("/"), F.lit(i),
                F.lit("</loc><lastmod>"), lastmod(F.lit(i)),
                F.lit("</lastmod><changefreq>"), cf,
                F.lit("</changefreq><priority>0."), (d + i) % 10,
                F.lit("</priority></url>"),
            ),
        ).otherwise("")

    def sub_piece(i):
        return F.when(
            F.lit(i) < 1 + d % 3,
            F.concat(
                F.lit("<sitemap><loc>https://site-"), d % 7,
                F.lit(".com/sitemap-"), F.lit(i),
                F.lit(".xml</loc><lastmod>"), lastmod(F.lit(i)),
                F.lit("</lastmod></sitemap>"),
            ),
        ).otherwise("")

    ns = ' xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'
    xml = F.when(
        is_index,
        F.concat(
            F.lit(f"<sitemapindex{ns}>"),
            *[sub_piece(i) for i in range(4)],
            F.lit("</sitemapindex>"),
        ),
    ).otherwise(
        F.concat(
            F.lit('<?xml version="1.0" encoding="UTF-8"?>\n'),
            F.lit(f"<urlset{ns}>"),
            *[url_piece(i) for i in range(6)],
            F.lit("</urlset>"),
        )
    )
    return (
        load_table(spark, sf_dir, "documents")
        .filter(d % 13 == 3)
        .select("doc_id", parse_sitemap(xml).alias("entries"))
        .select("doc_id", F.posexplode("entries").alias("entry_idx", "e"))
        .select(
            "doc_id",
            F.col("e.kind").alias("kind"),
            F.col("entry_idx").cast("int").alias("entry_idx"),
            F.col("e.loc").alias("loc"),
            F.col("e.lastmod").alias("lastmod"),
            F.col("e.changefreq").alias("changefreq"),
            F.col("e.priority").alias("priority"),
        )
    )


@register(
    "scan_robots_decisions",
    # Five probes per doc exercising the RFC 9309 subtleties: group
    # selection by most-specific agent vs the '*' group, longest-match
    # precedence with allow-wins ties, '$' end anchoring, wildcard
    # patterns, and crawl-delay surfacing. All knobs vary by doc.
    """
    with base as (
      select doc_id, cast(doc_id as bigint) as d
      from documents where doc_id % 9 = 3
    ),
    probes as (
      select doc_id, d, i,
             case i
               when 0 then 'bot-' || (d % 4)
               when 1 then 'bot-' || (d % 4)
               when 2 then 'otherbot'
               when 3 then 'otherbot'
               else 'bot-' || (d % 4) end as agent,
             case i
               when 0 then '/a/q'
               when 1 then '/a/b' || (d % 3) || '/z'
               when 2 then '/x123y'
               when 3 then '/x123yz'
               else '/free' end as path,
             i in (1, 3, 4) as allowed,
             case when i in (0, 1, 4)
                  then cast(1 + d % 5 as double) end as delay_s
      from base, unnest(generate_series(0, 4)) u(i)
    )
    select doc_id, cast(i as integer) as probe_idx, agent, path,
           allowed, delay_s
    from probes
    """,
)
def scan_robots_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt fetchability decisions (operators/robots.py —
    RFC 9309): per doc, synthesize a policy with a specific-agent group
    (Disallow /a/, a LONGER Allow under it, Crawl-delay) and a '*'
    group carrying a wildcard+$-anchored pattern, then decide five
    probes: the longest-match rule must beat order, allow must win
    ties, '$' must anchor (the 'yz' probe is allowed ONLY if the
    anchor works), and group selection must prefer the most specific
    agent over '*'. The oracle states every verdict and crawl delay
    closed-form — a precedence slip flips a boolean. Completes the
    crawl-curation suite (WARC -> robots -> URL canonicalization ->
    HTML -> text)."""
    from pyspark.sql import types as T

    from pyiceberg_lakehouse_spark.operators import robots as _rb

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 9 == 3)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("probe_idx", T.IntegerType()),
            T.StructField("agent", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("allowed", T.BooleanType()),
            T.StructField("delay_s", T.DoubleType()),
        ]
    )

    def rows_for_doc(d):
        bot = f"bot-{d % 4}"
        txt = (
            f"# policy {d}\n"
            f"User-agent: {bot}\n"
            f"Disallow: /a/\n"
            f"Allow: /a/b{d % 3}/\n"
            f"Crawl-delay: {1 + d % 5}\n"
            f"\n"
            f"User-agent: *\n"
            f"Disallow: /x*y$\n"
        )
        p = _rb.parse_robots(txt)
        probes = [
            (bot, "/a/q"),
            (bot, f"/a/b{d % 3}/z"),
            ("otherbot", "/x123y"),
            ("otherbot", "/x123yz"),
            (bot, "/free"),
        ]
        for i, (agent, path) in enumerate(probes):
            yield (
                d, i, agent, path, _rb.is_allowed(p, agent, path),
                _rb.crawl_delay(p, agent),
            )

    return map_docs(docs, rows_for_doc, schema, sf_dir=sf_dir)


@register(
    "text_url_canonicalize",
    # Three messy variants of one logical URL (case, default port,
    # fragment, tracking params, query order) plus one genuinely
    # different URL: canonicalization must collapse the first three
    # and keep the fourth apart. The oracle states both canonical
    # strings and their source counts closed-form.
    """
    with base as (
      select doc_id, cast(doc_id as bigint) as d
      from documents where doc_id % 9 = 2
    ),
    c as (
      select doc_id,
             'http://site-' || (d % 7) || '.com/p/' || d
               || '?a=1&b=' || (d % 5) as canonical_url,
             3 as n_sources
      from base
      union all
      select doc_id,
             'https://site-' || (d % 7) || '.com/p/' || d as canonical_url,
             1 as n_sources
      from base
    )
    select doc_id, canonical_url, cast(n_sources as bigint) as n_sources
    from c
    """,
)
def text_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization for crawl dedup (functions/urls.py) — PURE
    JVM path: per doc, build three messy variants of one logical URL
    (scheme/host case, explicit default port, fragment, utm_/fbclid
    tracking params, shuffled query order) plus one genuinely distinct
    https URL, canonicalize with built-in Column expressions only (the
    plan is one whole-stage-codegen span feeding one aggregation
    Exchange — no Python evaluator anywhere, proven in
    tests/test_plans.py), and count sources per canonical form. The
    three variants MUST collapse to one row of 3 and the https URL
    stay apart; the oracle states both canonical strings closed-form."""
    from pyiceberg_lakehouse_spark.functions.urls import canonicalize_url

    d = F.col("doc_id")
    host_u = F.concat(F.lit("Site-"), d % 7, F.lit(".Com"))
    host_l = F.lower(host_u)
    path = F.concat(F.lit("/p/"), d)
    b = d % 5
    v1 = F.concat(
        F.lit("HTTP://"), F.upper(host_u), F.lit(":80"),
        path, F.lit("?utm_source=x&b="), b, F.lit("&a=1#top"),
    )
    v2 = F.concat(
        F.lit("http://"), host_l, path, F.lit("?a=1&b="), b
    )
    v3 = F.concat(
        F.lit("http://"), host_u, F.lit(":80"), path,
        F.lit("?b="), b, F.lit("&a=1&fbclid=9"),
    )
    v4 = F.concat(F.lit("https://"), host_u, path)
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(d % 9 == 2)
        .select("doc_id", F.explode(F.array(v1, v2, v3, v4)).alias("url"))
    )
    return (
        docs.select("doc_id", canonicalize_url(F.col("url")).alias("canonical_url"))
        .groupBy("doc_id", "canonical_url")
        .agg(F.count("*").alias("n_sources"))
    )


@register(
    "text_pii_redact_extended",
    # Planted construction: per doc, text with a KNOWN census of PII —
    # 0-2 emails (%3), a NANP phone (%2), an IPv4 (%5), an SSN (%4) —
    # plus standing decoys that must survive (a five-part version
    # string, a 3-3-5 order number, a 13-digit id). The oracle states
    # the SCRUBBED STRING itself closed-form (tokens substituted in the
    # same concatenation), so an over- OR under-matching pattern flips
    # the hash on the text, not just on counts. Filter modulus 11 is
    # coprime with every knob.
    """
    with base as (
      select doc_id, cast(doc_id as bigint) as d,
             cast(doc_id % 3 as integer) as n_em,
             doc_id % 2 = 0 as has_phone,
             doc_id % 5 != 0 as has_ip,
             doc_id % 4 = 1 as has_ssn
      from documents where doc_id % 11 = 2
    )
    select doc_id,
           'mail ' ||
           case n_em when 0 then 'none' when 1 then '<EMAIL>'
                else '<EMAIL> <EMAIL>' end
           || ' tel ' || case when has_phone then '<PHONE>'
                else 'none' end
           || ' from ' || case when has_ip then '<IP>' else 'none' end
           || ' ssn ' || case when has_ssn then '<SSN>' else 'none' end
           || ' decoys v1.2.3.4.5 order 555-123-45678 id 1234567890123'
             as scrubbed,
           cast(n_em as integer) as n_emails,
           cast(case when has_ssn then 1 else 0 end as integer) as n_ssns,
           cast(case when has_phone then 1 else 0 end as integer)
             as n_phones,
           cast(case when has_ip then 1 else 0 end as integer) as n_ips,
           cast(n_em + (case when has_ssn then 1 else 0 end)
                + (case when has_phone then 1 else 0 end)
                + (case when has_ip then 1 else 0 end) as integer)
             as total_redactions
    from base
    """,
)
def text_pii_redact_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENDED PII redaction for training corpora (functions/pii.py) —
    beyond the URL+email pass of the driver-prior `text_pii_scrub`
    (operators/text.py): phones, IPv4s and SSNs with boundary guards
    against over-matching. PURE JVM
    path: per doc, build text with a planted census of PII (emails,
    NANP phone forms, bounds-checked IPv4, dashed SSN) plus decoys that
    must survive (version strings, 3-3-5 order numbers, long ids),
    scrub with built-in regexp_replace Column expressions only (the
    plan carries NO Python evaluator and no Exchange — machine-pinned
    in tests/test_plans.py), and report the scrubbed text + per-kind
    regexp_count audit columns. The oracle states the scrubbed STRING
    closed-form. Credit-card runs are deliberately not regex-guessed
    (the module docstring records why)."""
    from pyiceberg_lakehouse_spark.functions.pii import (
        pii_counts,
        scrub_pii,
    )

    d = F.col("doc_id")
    n_em = (d % 3).cast("int")
    e0 = F.concat(F.lit("user"), d, F.lit("k0@ex"), d % 7, F.lit(".com"))
    e1 = F.concat(F.lit("user"), d, F.lit("k1@ex"), d % 7, F.lit(".com"))
    emails = (
        F.when(n_em == 0, F.lit("none"))
        .when(n_em == 1, e0)
        .otherwise(F.concat(e0, F.lit(" "), e1))
    )
    phone = F.when(
        d % 2 == 0,
        F.concat(
            F.lit("(555) 123-"), F.lpad((d % 10000).cast("string"), 4, "0")
        ),
    ).otherwise(F.lit("none"))
    ip = F.when(
        d % 5 != 0,
        F.concat(F.lit("10."), d % 256, F.lit(".0."), d % 200),
    ).otherwise(F.lit("none"))
    ssn = F.when(
        d % 4 == 1,
        F.concat(
            F.lit("123-45-"), F.lpad((d % 10000).cast("string"), 4, "0")
        ),
    ).otherwise(F.lit("none"))
    text = F.concat(
        F.lit("mail "), emails, F.lit(" tel "), phone,
        F.lit(" from "), ip, F.lit(" ssn "), ssn,
        F.lit(" decoys v1.2.3.4.5 order 555-123-45678 id 1234567890123"),
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(d % 11 == 2)
        .select("doc_id", text.alias("text"))
    )
    counts = pii_counts(F.col("text"))
    return docs.select(
        "doc_id",
        scrub_pii(F.col("text")).alias("scrubbed"),
        counts["n_emails"].cast("int").alias("n_emails"),
        counts["n_ssns"].cast("int").alias("n_ssns"),
        counts["n_phones"].cast("int").alias("n_phones"),
        counts["n_ips"].cast("int").alias("n_ips"),
        (
            counts["n_emails"] + counts["n_ssns"] + counts["n_phones"]
            + counts["n_ips"]
        ).cast("int").alias("total_redactions"),
    )


@register(
    "text_markdown_extract",
    # The oracle states the EXTRACTED TEXT itself closed-form (the
    # html_extract pattern): header/emphasis/code/link/image/bullet/
    # quote markers stripped, the fenced block dropped, blank runs
    # collapsed — any extractor-semantics drift flips the hash on the
    # strings. Filter modulus 11 is coprime with every text knob
    # (%5, %3, %4, %7, %2, %6).
    """
    with base as (
      select doc_id, cast(doc_id as bigint) as d
      from documents where doc_id % 11 = 7
    )
    select doc_id,
           'Title ' || d || chr(10) || chr(10)
           || 'Some bold-' || (d % 5) || ' and em-' || (d % 3)
           || ' text with code-' || (d % 4) || ' inline.'
           || chr(10) || chr(10)
           || 'item one ' || (d % 7) || chr(10)
           || 'item link-' || d || ' two' || chr(10) || chr(10)
           || 'quote ' || (d % 2) || chr(10) || chr(10)
           || 'ordered img-' || d || ' end' || chr(10) || chr(10)
           || 'tail it and b-' || (d % 6) || ' x_y stays' as text,
           cast(length(
             'Title ' || d || chr(10) || chr(10)
             || 'Some bold-' || (d % 5) || ' and em-' || (d % 3)
             || ' text with code-' || (d % 4) || ' inline.'
             || chr(10) || chr(10)
             || 'item one ' || (d % 7) || chr(10)
             || 'item link-' || d || ' two' || chr(10) || chr(10)
             || 'quote ' || (d % 2) || chr(10) || chr(10)
             || 'ordered img-' || d || ' end' || chr(10) || chr(10)
             || 'tail it and b-' || (d % 6) || ' x_y stays'
           ) as integer) as n_chars
    from base
    """,
)
def text_markdown_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown -> text extraction (functions/markdown.py) — PURE JVM
    path, the documentation half of a code-adjacent corpus: per doc,
    build a Markdown document exercising every stated rule (ATX
    header, bold/italic in both marker styles, inline code, a fenced
    block that must be DROPPED, bullet + ordered lists, an image (alt
    kept), a link (label kept), a blockquote, a horizontal rule,
    snake_case that must NOT be read as emphasis), extract with
    regexp_replace Column expressions only (NO Python evaluator, NO
    Exchange — machine-pinned), and report the text. The oracle
    states the extracted STRING itself closed-form. Reference-style
    links/tables/setext headers stay honestly unparsed as literal
    text (the module docstring records why)."""
    from pyiceberg_lakehouse_spark.functions.markdown import (
        markdown_to_text,
    )

    d = F.col("doc_id")
    nl = F.lit("\n")
    md = F.concat(
        F.lit("# Title "), d, nl, nl,
        F.lit("Some **bold-"), d % 5, F.lit("** and *em-"), d % 3,
        F.lit("* text with `code-"), d % 4, F.lit("` inline."), nl, nl,
        F.lit("```"), nl, F.lit("fenced "), d, nl, F.lit("line2"), nl,
        F.lit("```"), nl, nl,
        F.lit("- item one "), d % 7, nl,
        F.lit("- item [link-"), d, F.lit("](http://x/"), d,
        F.lit(") two"), nl, nl,
        F.lit("> quote "), d % 2, nl, nl,
        F.lit("1. ordered ![img-"), d, F.lit("](u) end"), nl, nl,
        F.lit("---"), nl, nl,
        F.lit("tail _it_ and __b-"), d % 6, F.lit("__ x_y stays"),
    )
    return (
        load_table(spark, sf_dir, "documents")
        .filter(d % 11 == 7)
        .select(
            "doc_id",
            markdown_to_text(md).alias("text"),
        )
        .withColumn("n_chars", F.length("text").cast("int"))
    )


@register(
    "text_html_extract",
    # Filter modulus 9 is coprime with the paragraph (%3) and link (%2)
    # knobs. The oracle states the EXTRACTED TEXT itself closed-form —
    # block-boundary newlines, entity decodes, dropped script/style,
    # collapsed whitespace — so any extractor-semantics drift flips the
    # hash on the strings, not just on counts.
    """
    with base as (
      select doc_id, cast(doc_id as bigint) as d,
             2 + doc_id % 3 as np, 1 + doc_id % 2 as nl
      from documents where doc_id % 9 = 7
    ),
    paras as (
      select doc_id, string_agg('para-' || d || '-' || i || ' & co',
                                chr(10) order by i) as ptxt
      from base, unnest(generate_series(0, 4)) u(i) where i < np
      group by doc_id, d, np
    ),
    links as (
      select doc_id, string_agg('ln ' || j, ' ' order by j) as ltxt,
             count(*) as n_links
      from base, unnest(generate_series(0, 1)) v(j) where j < nl
      group by doc_id
    )
    select b.doc_id,
           'Doc ' || d as title,
           'Doc ' || d || chr(10) || 'Head ' || d || chr(10)
             || p.ptxt || chr(10) || l.ltxt as text,
           cast(l.n_links as integer) as n_links,
           'http://l/' || d || '/0?a=1&b=2' as first_link,
           cast(14 + 2 * np + 2 * nl as integer) as n_tags
    from base b join paras p using (doc_id) join links l using (doc_id)
    """,
)
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction (operators/html.py) — the crawl-to-corpus
    step: per doc, synthesize a page with a title, a dropped <script>
    and <style>, block paragraphs carrying &amp; entities, inline
    links with entity-encoded hrefs, then extract. The oracle states
    the extracted TEXT string itself closed-form (newline placement,
    entity decodes, whitespace collapse), the title, the decoded first
    href, and the exact tag count — extractor-semantics drift flips
    the hash on strings. Arrow-batched mapInPandas, map-only."""
    from pyspark.sql import types as T

    from pyiceberg_lakehouse_spark.operators import html as _html

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 9 == 7)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("title", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("n_links", T.IntegerType()),
            T.StructField("first_link", T.StringType()),
            T.StructField("n_tags", T.IntegerType()),
        ]
    )

    def page(d: int) -> str:
        np_, nl = 2 + d % 3, 1 + d % 2
        paras = "".join(
            f"<p>para-{d}-{i} &amp; co</p>\n" for i in range(np_)
        )
        links = " ".join(
            f'<a href="http://l/{d}/{j}?a=1&amp;b=2">ln {j}</a>'
            for j in range(nl)
        )
        return (
            f"<!DOCTYPE html><html><head><title>Doc {d}</title>"
            f"<script>var x = '<p>{d}</p>';</script></head>\n"
            f"<body><h1>Head {d}</h1><!-- c -->\n{paras}{links}\n"
            f"<style>.x{{color:red}}</style></body></html>"
        )

    def rows_for_doc(d):
        r = _html.extract_html(page(d))
        yield d, r["title"], r["text"], len(r["links"]), r["links"][0], r["n_tags"]

    return map_docs(docs, rows_for_doc, schema, sf_dir=sf_dir)


@register(
    "text_epub_extract",
    # EPUB = the engine's own layers composed: zip explosion (the
    # streaming data-descriptor form cycling) -> container.xml ->
    # OPF manifest/spine (real namespace-aware XML) -> per-chapter
    # HTML extraction. The zip stores chapters in REVERSED order on
    # even docs while the spine keeps reading order — the oracle's
    # chapter sequence proves the SPINE wins, not zip order. The
    # extracted STRING is stated closed-form. Filter modulus 13
    # residue 1.
    """
    with base as (
      select doc_id, cast(doc_id as bigint) as d, 1 + doc_id % 3 as ncs
      from documents where doc_id % 13 = 1
    ),
    chapters as (
      select doc_id, string_agg(
        'Ch ' || d || '-' || i || chr(10) || 'Ch ' || d || '-' || i
        || chr(10) || 'para ' || d || '-' || i || '-0 & co'
        || chr(10) || 'para ' || d || '-' || i || '-1 & co',
        chr(12) order by i) as text
      from base, unnest(generate_series(0, 2)) g(i) where i < ncs
      group by doc_id
    )
    select b.doc_id,
      'Book ' || (b.d % 9) as title,
      'Auth ' || (b.d % 7) as creator,
      case cast(b.d % 3 as integer) when 0 then 'en'
           when 1 then 'de' else 'fr' end as language,
      cast(b.ncs as integer) as n_chapters,
      cast(3 + b.ncs as integer) as n_entries,
      c.text,
      cast(length(c.text) as integer) as n_chars
    from base b join chapters c using (doc_id)
    """,
)
def text_epub_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPUB -> text (operators/office.py) — the ebook-corpus path,
    composing the engine's own layers end to end: per doc, build an
    EPUB (mimetype + container.xml + OPF manifest/spine + XHTML
    chapters, chapter files stored in REVERSED zip order on even docs
    and in the streaming data-descriptor zip form on every fifth),
    explode the zip, resolve the package through real namespace-aware
    XML, walk the SPINE (reading order — a reader using zip order
    shuffles the book, and the oracle's chapter sequence would catch
    it), and extract each chapter through the deterministic HTML
    extractor. The oracle states the joined text closed-form.
    Arrow-batched mapInPandas, map-only."""
    from pyspark.sql import types as T

    from pyiceberg_lakehouse_spark.operators import office as _off

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 13 == 1)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("title", T.StringType()),
            T.StructField("creator", T.StringType()),
            T.StructField("language", T.StringType()),
            T.StructField("n_chapters", T.IntegerType()),
            T.StructField("n_entries", T.IntegerType()),
            T.StructField("text", T.StringType()),
            T.StructField("n_chars", T.IntegerType()),
        ]
    )

    def rows_for_doc(d):
        chapters = [
            (
                f"Ch {d}-{i}",
                [f"para {d}-{i}-0 &amp; co", f"para {d}-{i}-1 &amp; co"],
            )
            for i in range(1 + d % 3)
        ]
        blob = _off.make_epub(
            f"Book {d % 9}",
            f"Auth {d % 7}",
            ["en", "de", "fr"][d % 3],
            chapters,
            shuffle_zip_order=d % 2 == 0,
            streaming_zip=d % 5 < 2,
        )
        r = _off.extract_epub(blob)
        yield (
            d, r["title"], r["creator"], r["language"], len(r["chapters"]),
            r["n_entries"], r["text"], len(r["text"]),
        )

    return map_docs(docs, rows_for_doc, schema, sf_dir=sf_dir)


@register(
    "text_docx_extract",
    # DOCX (OOXML): word/document.xml paragraphs with styles, run
    # concatenation, <w:br/> -> newline, <w:tab/> -> tab, XML-escaped
    # text, and docProps/core.xml metadata — parsed with a real
    # namespace-aware XML walk over the exploded zip. The oracle
    # states the extracted STRING closed-form. Filter modulus 13
    # residue 12.
    """
    with base as (
      select doc_id, cast(doc_id as bigint) as d, 2 + doc_id % 4 as np
      from documents where doc_id % 13 = 12
    ),
    paras as (
      select doc_id, string_agg(
        'line ' || d || '-' || j || chr(10) || 'cont ' || (d % 5)
        || chr(9) || 'end & ' || (d % 7),
        chr(10) order by j) as text
      from base, unnest(generate_series(0, 5)) g(j) where j < np
      group by doc_id
    )
    select b.doc_id,
      'Doc ' || (b.d % 11) as title,
      'Auth ' || (b.d % 5) as creator,
      cast(b.np as integer) as n_paragraphs,
      'Heading1' as first_style,
      p.text,
      cast(length(p.text) as integer) as n_chars
    from base b join paras p using (doc_id)
    """,
)
def text_docx_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOCX -> text (operators/office.py) — the office-document path:
    per doc, build an OOXML package (word/document.xml with styled
    paragraphs, multi-run text, <w:br/> and <w:tab/> inside runs,
    XML-escaped ampersands, docProps/core.xml metadata), explode the
    zip and extract with a namespace-aware XML walk. The oracle
    states paragraph styles and the joined text closed-form.
    Arrow-batched mapInPandas, map-only."""
    from pyspark.sql import types as T

    from pyiceberg_lakehouse_spark.operators import office as _off

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 13 == 12)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("title", T.StringType()),
            T.StructField("creator", T.StringType()),
            T.StructField("n_paragraphs", T.IntegerType()),
            T.StructField("first_style", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("n_chars", T.IntegerType()),
        ]
    )

    def rows_for_doc(d):
        paragraphs = [
            (
                "Heading1" if j == 0 else None,
                [f"line {d}-{j}", None, f"cont {d % 5}", "\t", f"end & {d % 7}"],
            )
            for j in range(2 + d % 4)
        ]
        r = _off.extract_docx(
            _off.make_docx(f"Doc {d % 11}", f"Auth {d % 5}", paragraphs)
        )
        yield (
            d, r["title"], r["creator"], len(r["paragraphs"]),
            r["paragraphs"][0]["style"], r["text"], len(r["text"]),
        )

    return map_docs(docs, rows_for_doc, schema, sf_dir=sf_dir)


@register(
    "text_rtf_extract",
    # RTF — the legacy word-processor/email-attachment format: group
    # state stack, \\'hh hex escapes through the declared code page,
    # \\uN unicode with the \\uc fallback-skip protocol (cycling
    # against plain cp1252 escapes so BOTH encode paths hash),
    # ignorable {\\*\\...} destinations and the fonttbl/generator
    # skips, \\par/\\line/\\tab decodes. The oracle states the
    # extracted STRING (with non-ASCII literals) closed-form plus the
    # exact group count. Filter modulus 17 residue 5.
    """
    with base as (
      select doc_id, cast(doc_id as bigint) as d, 2 + doc_id % 3 as np
      from documents where doc_id % 17 = 5
    ),
    paras as (
      select doc_id, string_agg(
        'line ' || d || '-' || j || ' café € — end ' || (d % 7)
        || chr(9) || 'q' || (d % 5),
        chr(10) order by j) as text
      from base, unnest(generate_series(0, 4)) g(j) where j < np
      group by doc_id
    )
    select b.doc_id,
      p.text,
      'cp1252' as codepage,
      cast(case when b.d % 3 != 1 then 4 else 2 end as integer)
        as n_groups,
      cast(length(p.text) as integer) as n_chars
    from base b join paras p using (doc_id)
    """,
)
def text_rtf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RTF -> text (operators/rtf.py) — the legacy document format:
    per doc, write an RTF whose non-ASCII characters cycle between
    cp1252 \\'hh hex escapes and \\uN unicode-with-ANSI-fallback (the
    \\uc skip protocol made load-bearing — emitting the fallback too
    would double characters and flip the hash), with the fonttbl
    destination cycling in and an ignorable {\\*\\generator} group
    always present; parse with the real group-state tokenizer and
    report the text + exact group count. The oracle states the string
    with its non-ASCII literals closed-form. Arrow-batched
    mapInPandas, map-only."""
    from pyspark.sql import types as T

    from pyiceberg_lakehouse_spark.operators import rtf as _rtf

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 17 == 5)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("codepage", T.StringType()),
            T.StructField("n_groups", T.IntegerType()),
            T.StructField("n_chars", T.IntegerType()),
        ]
    )

    def rows_for_doc(d):
        paras = [
            f"line {d}-{j} café € — end {d % 7}\tq{d % 5}"
            for j in range(2 + d % 3)
        ]
        r = _rtf.extract_rtf(
            _rtf.make_rtf(
                paras,
                codepage=1252,
                with_fonttbl=d % 3 != 1,
                unicode_with_fallback=d % 2 == 0,
            )
        )
        yield d, r["text"], r["codepage"], r["n_groups"], len(r["text"])

    return map_docs(docs, rows_for_doc, schema, sf_dir=sf_dir)


@register(
    "text_odt_extract",
    # ODT (OpenDocument): content.xml office:text paragraphs with
    # styles, text:line-break/text:tab decodes and the text:s
    # RUN-LENGTH-ENCODED spaces (text:c) a naive itertext() walk
    # loses — planted in every paragraph so the expansion is
    # load-bearing. The oracle states the extracted STRING
    # closed-form. Filter modulus 17 residue 3 (13's residues are
    # fully claimed).
    """
    with base as (
      select doc_id, cast(doc_id as bigint) as d, 2 + doc_id % 3 as np
      from documents where doc_id % 17 = 3
    ),
    paras as (
      select doc_id, string_agg(
        'line ' || d || '-' || j || chr(10) || 'cont ' || (d % 5)
        || chr(9) || '  end & ' || (d % 7),
        chr(10) order by j) as text
      from base, unnest(generate_series(0, 4)) g(j) where j < np
      group by doc_id
    )
    select b.doc_id,
      'Odt ' || (b.d % 9) as title,
      'Auth ' || (b.d % 5) as creator,
      cast(b.np as integer) as n_paragraphs,
      'Heading' as first_style,
      p.text,
      cast(length(p.text) as integer) as n_chars
    from base b join paras p using (doc_id)
    """,
)
def text_odt_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ODT -> text (operators/office.py extract_odt) — the
    LibreOffice/OpenDocument path: per doc, build an ODT package
    (content.xml paragraphs with styles, line-break and tab elements
    inside runs, the text:s run-length-encoded space form planted in
    every paragraph, XML-escaped ampersands, meta.xml Dublin-Core
    metadata), explode the zip and extract with a namespace-aware XML
    walk that expands the whitespace model. The oracle states the
    joined text closed-form. Arrow-batched mapInPandas, map-only."""
    from pyspark.sql import types as T

    from pyiceberg_lakehouse_spark.operators import office as _off

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 17 == 3)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("title", T.StringType()),
            T.StructField("creator", T.StringType()),
            T.StructField("n_paragraphs", T.IntegerType()),
            T.StructField("first_style", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("n_chars", T.IntegerType()),
        ]
    )

    def rows_for_doc(d):
        paragraphs = [
            (
                "Heading" if j == 0 else None,
                [
                    f"line {d}-{j}", None, f"cont {d % 5}", "\t", 2,
                    f"end & {d % 7}",
                ],
            )
            for j in range(2 + d % 3)
        ]
        r = _off.extract_odt(
            _off.make_odt(f"Odt {d % 9}", f"Auth {d % 5}", paragraphs)
        )
        yield (
            d, r["title"], r["creator"], len(r["paragraphs"]),
            r["paragraphs"][0]["style"], r["text"], len(r["text"]),
        )

    return map_docs(docs, rows_for_doc, schema, sf_dir=sf_dir)


@register(
    "text_ass_cues",
    # SSA/ASS — the fansub/anime-corpus subtitle format: Format-driven
    # field order (an extra nonstandard column cycles in so positional
    # hardcoding would misread), override-tag stripping, \\N line
    # breaks + \\h hard spaces, drawing-mode payload DROPPED, commas
    # absorbed by the final Text field, centisecond timestamps. The
    # oracle states the stripped STRING itself closed-form. Filter
    # modulus 13 residue 10.
    """
    with base as (
      select doc_id, cast(doc_id as bigint) as d, 2 + doc_id % 4 as nc
      from documents where doc_id % 13 = 10
    )
    select doc_id,
      cast(i as integer) as cue_idx,
      cast(1000*i + 10*(d % 100) as bigint) as start_ms,
      cast(1000*i + 10*(d % 100) + 500 + 10*(d % 50) as bigint) as end_ms,
      case when i % 2 = 0 then 'Main' else 'Alt' end as style,
      'spk-' || ((d + i) % 5) as name,
      case when i = 1
           then 'draw-' || d || ' end'
           else 'line-' || d || '-' || i || chr(10)
                || 'part, two ' || (d % 7) end as text
    from base, unnest(generate_series(0, 5)) g(i) where i < nc
    """,
)
def text_ass_cues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSA/ASS subtitle extraction (operators/subtitles.py parse_ass) —
    the fansub format anime/video corpora ship: per doc, write an ASS
    script whose [Events] Format line declares the field order (a
    nonstandard extra column cycling in on every third doc, so the
    Format-DRIVEN parse is load-bearing), with override tags
    ({\\b1}..{\\b0}) to strip, \\N breaks, a comma inside the Text
    field (absorbed by the last-field rule), and one DRAWING cue per
    doc ({\\p1} vector payload {\\p0}) whose path commands must be
    dropped, not emitted as text. Parse it back and report the cue
    rows; the oracle states every stripped string and centisecond
    timestamp closed-form. Arrow-batched mapInPandas, map-only."""
    from pyspark.sql import types as T

    from pyiceberg_lakehouse_spark.operators import subtitles as _sub

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 13 == 10)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("cue_idx", T.IntegerType()),
            T.StructField("start_ms", T.LongType()),
            T.StructField("end_ms", T.LongType()),
            T.StructField("style", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )

    def rows_for_doc(d):
        cues = []
        for i in range(2 + d % 4):
            start = 1000 * i + 10 * (d % 100)
            end = start + 500 + 10 * (d % 50)
            if i == 1:
                raw = f"draw-{d} {{\\p1}}m 0 0 l 10 0{{\\p0}}end"
            else:
                raw = f"{{\\b1}}line-{d}-{i}{{\\b0}}\\Npart, two {d % 7}"
            cues.append(
                {
                    "start_ms": start, "end_ms": end,
                    "style": "Main" if i % 2 == 0 else "Alt",
                    "name": f"spk-{(d + i) % 5}",
                    "text": raw,
                }
            )
        script = _sub.make_ass(
            cues,
            title=f"doc {d}",
            styles=["Main", "Alt"],
            extra_event_field=d % 3 == 0,
        )
        for i, c in enumerate(_sub.parse_ass(script)["cues"]):
            yield d, i, c["start_ms"], c["end_ms"], c["style"], c["name"], c["text"]

    return map_docs(docs, rows_for_doc, schema, sf_dir=sf_dir)


@register(
    "text_pdf_extract",
    # The oracle states the EXTRACTED TEXT itself closed-form, plus the
    # structural features a parser cannot fake: page count across the
    # /Prev chain, distinct in-use object count, newest xref kind,
    # object-stream presence, update-chain length. Knobs cycle every
    # structural form: classic xref table vs 1.5 xref STREAM (d%3),
    # Flate on/off (d%2, PNG Up predictor 12 rides compressed xref
    # streams), object streams (d%4>=2 on stream files), hex vs literal
    # strings (d%5), incremental update appending a page (d%4=1 — the
    # classic-table-over-stream-base hybrid chain included). Filter
    # modulus 13 (first claim on 13) is coprime with every knob.
    """
    with base as (
      select doc_id, cast(doc_id as bigint) as d,
             1 + doc_id % 3 as np,
             doc_id % 4 = 1 as upd,
             doc_id % 3 <> 0 as xs,
             doc_id % 3 <> 0 and doc_id % 4 >= 2 as objstm
      from documents where doc_id % 13 = 2
    ),
    pages as (
      select doc_id, string_agg(
        'Doc ' || d || ' page ' || p || chr(10)
        || 'line ' || (d+p) % 7 || ' alpha & beta (x)' || chr(10)
        || 'kern ' || (d+p) % 5 || ' end' || chr(10)
        || 'quote ' || (d+p) % 4
        || case when p % 2 = 0
                then chr(10) || 'tm ' || (d+p) % 3 else '' end,
        chr(10) || chr(10) order by p) as text
      from base, unnest(generate_series(0, 3)) g(p)
      where p < np + case when upd then 1 else 0 end
      group by doc_id, d, np, upd
    )
    select b.doc_id,
           p.text,
           cast(length(p.text) as integer) as n_chars,
           cast(b.np + case when b.upd then 1 else 0 end
                as integer) as n_pages,
           cast(3 + 2*b.np + case when b.objstm then 1 else 0 end
                + case when b.xs then 1 else 0 end
                + case when b.upd then 2 else 0 end as integer) as n_objects,
           case when b.upd or not b.xs then 'table' else 'stream' end
             as xref_kind,
           b.objstm as has_objstm,
           cast(case when b.upd then 2 else 1 end as integer) as n_updates
    from base b join pages p using (doc_id)
    """,
)
def text_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PDF text extraction (operators/pdf.py) — the dominant
    document-corpus format: per doc, WRITE a deterministic PDF cycling
    every structural knob (classic xref table vs cross-reference
    stream, Flate + PNG-Up-predicted xref rows, compressed object
    streams with type-2 entries, hex vs literal strings with escaped
    parens, an incremental update appending a page over a /Prev chain
    — including the classic-table-over-stream-base hybrid), then PARSE
    it back through the full reader (xref chain resolution, object
    grammar, page-tree walk, FlateDecode, content-stream text
    assembly over Tj/TJ/'/Td/TD/Tm/T*) and report the text plus the
    structural features. The oracle states the extracted STRING and
    every count closed-form without running either half. Arrow-batched
    mapInPandas — the bytes never shuffle, only typed rows do.
    Encrypted PDFs and non-Flate filters stay honestly gated (tests
    pin the refusals)."""
    from pyspark.sql import types as T

    from pyiceberg_lakehouse_spark.operators import pdf as _pdf

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 13 == 2)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("n_chars", T.IntegerType()),
            T.StructField("n_pages", T.IntegerType()),
            T.StructField("n_objects", T.IntegerType()),
            T.StructField("xref_kind", T.StringType()),
            T.StructField("has_objstm", T.BooleanType()),
            T.StructField("n_updates", T.IntegerType()),
        ]
    )

    def page_lines(d: int, p: int) -> list[str]:
        lines = [
            f"Doc {d} page {p}",
            f"line {(d + p) % 7} alpha & beta (x)",
            f"kern {(d + p) % 5} end",
            f"quote {(d + p) % 4}",
        ]
        if p % 2 == 0:
            lines.append(f"tm {(d + p) % 3}")
        return lines

    def rows_for_doc(d):
        np_ = 1 + d % 3
        upd = d % 4 == 1
        xs = d % 3 != 0
        blob = _pdf.encode_pdf(
            [page_lines(d, p) for p in range(np_)],
            compress=d % 2 == 0,
            xref_stream=xs,
            object_streams=xs and d % 4 >= 2,
            hex_strings=d % 5 < 2,
            xref_predictor=12 if (xs and d % 2 == 0) else None,
            incremental_extra_page=page_lines(d, np_) if upd else None,
        )
        r = _pdf.extract_pdf_text(blob)
        yield (
            d,
            "\n\n".join(r["pages"]),
            sum(len(p) for p in r["pages"]) + 2 * (len(r["pages"]) - 1),
            r["n_pages"], r["n_objects"], r["xref_kind"],
            r["has_objstm"], r["n_updates"],
        )

    return map_docs(docs, rows_for_doc, schema, sf_dir=sf_dir)


@register(
    "text_charset_decode",
    # The WHATWG sniffing precedence over real byte encodings: BOMs
    # (UTF-8/UTF-16LE/UTF-16BE, surrogate-pair emoji included), the
    # HTTP charset parameter with the ISO-8859-1 -> windows-1252
    # normalization (the euro at 0x80 proves cp1252, which latin-1
    # cannot express), the in-body <meta charset> sniff, and the
    # UTF-8-else-cp1252 default. The oracle states the decoded STRING
    # itself closed-form. Filter modulus 13 residue 6.
    """
    with base as (
      select doc_id, cast(doc_id as bigint) as d,
             cast(doc_id % 6 as integer) as k
      from documents where doc_id % 13 = 6
    )
    select doc_id,
      case when k <= 2 then 'Doc ' || d || ' café € 😀'
           when k = 3 then 'Doc ' || d || ' café €'
           when k = 4
             then '<meta charset="windows-1252">Doc ' || d || ' café ’'
           else 'Doc ' || d || ' plain' end as text,
      case when k = 0 then 'utf-8'
           when k = 1 then 'utf-16le'
           when k = 2 then 'utf-16be'
           when k in (3, 4) then 'windows-1252'
           else 'utf-8' end as charset,
      case when k <= 2 then 'bom'
           when k = 3 then 'http'
           when k = 4 then 'meta'
           else 'default' end as source,
      cast(length(case when k <= 2 then 'Doc ' || d || ' café € 😀'
           when k = 3 then 'Doc ' || d || ' café €'
           when k = 4
             then '<meta charset="windows-1252">Doc ' || d || ' café ’'
           else 'Doc ' || d || ' plain' end) as integer) as n_chars
    from base
    """,
)
def text_charset_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset sniffing for crawl bodies (operators/html.py
    decode_html_bytes) — the step between raw HTTP bytes and every
    text operator, where a 100 TB crawl meets UTF-16 pages, cp1252
    mislabeled as latin-1, and BOMs: per doc, encode a non-ASCII
    string (euro sign, e-acute, an astral-plane emoji) under one of
    six sniffing paths — three BOMs, an HTTP charset parameter whose
    ISO-8859-1 label must normalize to windows-1252 per the WHATWG
    encoding standard, an in-body <meta charset>, and the strict-
    UTF-8-else-cp1252 default — then decode and report the text plus
    the detected charset and its source. The oracle states the decoded
    string closed-form; any sniffing-precedence drift flips the hash.
    Arrow-batched mapInPandas, map-only."""
    from pyspark.sql import types as T

    from pyiceberg_lakehouse_spark.operators import html as _html

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 13 == 6)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("charset", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.IntegerType()),
        ]
    )

    def make(d: int) -> tuple[bytes, str | None]:
        k = d % 6
        if k == 0:
            return b"\xef\xbb\xbf" + f"Doc {d} café € 😀".encode(), None
        if k == 1:
            return (
                b"\xff\xfe" + f"Doc {d} café € 😀".encode("utf-16-le"),
                None,
            )
        if k == 2:
            return (
                b"\xfe\xff" + f"Doc {d} café € 😀".encode("utf-16-be"),
                None,
            )
        if k == 3:
            return (
                f"Doc {d} café €".encode("windows-1252"),
                "text/html; charset=ISO-8859-1",
            )
        if k == 4:
            return (
                f'<meta charset="windows-1252">Doc {d} café ’'.encode(
                    "windows-1252"
                ),
                "text/html",
            )
        return f"Doc {d} plain".encode(), None

    def rows_for_doc(d):
        text, charset, source = _html.decode_html_bytes(*make(d))
        yield d, text, charset, source, len(text)

    return map_docs(docs, rows_for_doc, schema, sf_dir=sf_dir)


@register(
    "text_html_metadata",
    # The caption-mining fields: OpenGraph properties, meta names,
    # img src/alt pairs (alt '' when absent — a curation signal),
    # canonical link, html lang, and a schema.org JSON-LD block parsed
    # to typed fields. A planted <script> decoy carrying a fake
    # og: meta proves the raw-text skip is load-bearing. The oracle
    # restates every string closed-form. Filter modulus 13 residue 4.
    """
    with base as (
      select doc_id, cast(doc_id as bigint) as d, 1 + doc_id % 3 as ni
      from documents where doc_id % 13 = 4
    ),
    alts as (
      select doc_id, string_agg(
        case when i % 2 = 0 then 'cap ' || d || '-' || i || ' & co'
             else '' end, '|' order by i) as img_alts
      from base, unnest(generate_series(0, 3)) g(i) where i < ni
      group by doc_id
    )
    select b.doc_id,
      case cast(b.d % 3 as integer)
           when 0 then 'en' when 1 then 'de' else 'fr' end as lang,
      'https://c.site/p/' || b.d as canonical,
      'OG ' || b.d as og_title,
      'https://img-' || (b.d % 5) || '.cdn/i/' || b.d || '.jpg'
        as og_image,
      'Desc ' || (b.d % 7) || ' & more' as og_description,
      'Meta ' || (b.d % 4) as meta_description,
      'Article' as ld_type,
      'H ' || b.d as ld_headline,
      cast(100 + b.d % 50 as integer) as ld_wordcount,
      cast(b.ni as integer) as n_images,
      a.img_alts
    from base b join alts a using (doc_id)
    """,
)
def text_html_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML metadata extraction (operators/html.py extract_metadata) —
    the caption-mining/curation fields an image-text pipeline needs:
    per doc, synthesize a page with OpenGraph metas (BOTH attribute
    orders), a meta description, img tags with and without alt text,
    a canonical link, an html lang attribute, a schema.org JSON-LD
    block (parsed to typed fields in the same Arrow batch), and a
    <script> DECOY containing a fake og: meta that must NOT leak into
    the result (the raw-text skip is load-bearing). The oracle
    restates every field closed-form. Arrow-batched mapInPandas,
    map-only."""
    import json as _json


    from pyspark.sql import types as T

    from pyiceberg_lakehouse_spark.operators import html as _html

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 13 == 4)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("canonical", T.StringType()),
            T.StructField("og_title", T.StringType()),
            T.StructField("og_image", T.StringType()),
            T.StructField("og_description", T.StringType()),
            T.StructField("meta_description", T.StringType()),
            T.StructField("ld_type", T.StringType()),
            T.StructField("ld_headline", T.StringType()),
            T.StructField("ld_wordcount", T.IntegerType()),
            T.StructField("n_images", T.IntegerType()),
            T.StructField("img_alts", T.StringType()),
        ]
    )

    def page(d: int) -> str:
        lang = ["en", "de", "fr"][d % 3]
        ni = 1 + d % 3
        imgs = "".join(
            (
                f'<img src="https://img/{d}/{i}.png" '
                f'alt="cap {d}-{i} &amp; co">'
                if i % 2 == 0
                else f'<img src="https://img/{d}/{i}.png">'
            )
            for i in range(ni)
        )
        ld = _json.dumps(
            {
                "@context": "https://schema.org",
                "@type": "Article",
                "headline": f"H {d}",
                "wordCount": 100 + d % 50,
            }
        )
        return (
            f'<!DOCTYPE html><html lang="{lang}"><head>'
            f'<meta property="og:title" content="OG {d}">'
            # reversed attribute order must parse identically
            f'<meta content="https://img-{d % 5}.cdn/i/{d}.jpg" '
            f'property="og:image">'
            f'<meta property="og:description" '
            f'content="Desc {d % 7} &amp; more">'
            f'<meta name="description" content="Meta {d % 4}">'
            f'<link rel="canonical" href="https://c.site/p/{d}">'
            f'<script>var x = \'<meta property="og:decoy" '
            f'content="x">\';</script>'
            f'<script type="application/ld+json">{ld}</script>'
            f"</head><body><h1>Doc {d}</h1>{imgs}</body></html>"
        )

    def rows_for_doc(d):
        m = _html.extract_metadata(page(d))
        assert "decoy" not in m["og"], "script decoy leaked"
        ld = _json.loads(m["json_ld"][0]) if m["json_ld"] else {}
        yield (
            d, m["lang"], m["canonical"],
            m["og"].get("title"), m["og"].get("image"),
            m["og"].get("description"),
            m["meta"].get("description"),
            ld.get("@type"), ld.get("headline"), ld.get("wordCount"),
            len(m["images"]),
            "|".join(alt for _src, alt in m["images"]),
        )

    return map_docs(docs, rows_for_doc, schema, sf_dir=sf_dir)


@register(
    "pipeline_crawl_ingest",
    # The Common Crawl ingest chain end-to-end: WARC bytes -> record
    # walk -> HTTP envelope -> HTML text extraction -> per-page
    # curation features. The oracle rebuilds the extracted text string
    # in SQL and takes its length — any drift anywhere in the chain
    # (framing, gzip members, entity decode, newline placement) moves
    # text_len or flips keep.
    """
    with base as (
      select doc_id, cast(doc_id as bigint) as d, 2 + doc_id % 3 as n
      from documents where doc_id % 9 = 8
    ),
    pages as (
      select doc_id, d, i,
             'http://site-' || (d % 5) || '.com/' || d || '/' || i as uri,
             case when (d + i) % 4 = 3 then 404 else 200 end as status,
             'Page ' || d || '-' || i as title,
             'Page ' || d || '-' || i || chr(10) || 'Head' || chr(10)
               || 'para-' || d || '-' || i || '-0 & co' || chr(10)
               || 'para-' || d || '-' || i || '-1 & co' as text
      from base, unnest(generate_series(0, 4)) u(i) where i < n
    )
    select doc_id,
           cast(i as integer) as page_idx,
           uri, cast(status as integer) as status, title,
           cast(length(text) as integer) as text_len,
           status = 200 and length(text) >= 30 as keep
    from pages
    """,
)
def pipeline_crawl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end crawl ingest — the Common Crawl chain in ONE map
    stage: per doc, build a per-record-gzipped WARC whose response
    bodies are HTML pages (title + dropped script + entity-bearing
    paragraphs), then run record walk -> WARC-Type routing -> HTTP
    envelope parse -> HTML text extraction -> per-page curation row
    (url, status, title, extracted-text length, keep decision). The
    oracle rebuilds the extracted text in SQL and measures it, so a
    drift ANYWHERE in the four-layer chain flips the hash. Map-only:
    archives never shuffle, only typed curation rows do."""
    from pyspark.sql import types as T

    from pyiceberg_lakehouse_spark.operators import html as _html
    from pyiceberg_lakehouse_spark.operators import warc as _warc

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 9 == 8)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("page_idx", T.IntegerType()),
            T.StructField("uri", T.StringType()),
            T.StructField("status", T.IntegerType()),
            T.StructField("title", T.StringType()),
            T.StructField("text_len", T.IntegerType()),
            T.StructField("keep", T.BooleanType()),
        ]
    )

    def page_html(d: int, i: int) -> bytes:
        return (
            f"<html><head><title>Page {d}-{i}</title>"
            f"<script>var v = '<b>{d}</b>';</script></head>"
            f"<body><h1>Head</h1>"
            f"<p>para-{d}-{i}-0 &amp; co</p>"
            f"<p>para-{d}-{i}-1 &amp; co</p></body></html>"
        ).encode()

    def rows_for_doc(d):
        recs = []
        for i in range(2 + d % 3):
            status = 404 if (d + i) % 4 == 3 else 200
            recs.append(
                {
                    "type": "response",
                    "uri": f"http://site-{d % 5}.com/{d}/{i}",
                    "block": _warc.build_http_response(
                        status, "X",
                        [("Content-Type", "text/html")], page_html(d, i),
                    ),
                }
            )
        payload = _warc.make_warc(recs, gzip_records=True)
        for i, r in enumerate(_warc.warc_responses(payload)):
            ex = _html.extract_html(r["body"].decode())
            yield (
                d, i, r["uri"], r["status"], ex["title"], len(ex["text"]),
                r["status"] == 200 and len(ex["text"]) >= 30,
            )

    return map_docs(docs, rows_for_doc, schema, sf_dir=sf_dir)


@register(
    "scan_warc_responses",
    # Filter modulus 9 is coprime with the record-count (%4), status
    # (%3), content-type (%2), gzip-layout (%2), chunked (%4) and
    # content-encoding ((d+2i)%7) knobs, so both WARC storage forms
    # (plain + per-record gzip members), Content-Length AND chunked
    # transfer-encoding framing, every HTTP branch, and ALL FIVE
    # representation codings (gzip, zlib-wrapped deflate, the
    # raw-deflate server bug under the 'deflate' label, and — r15 —
    # br and zstd through pyarrow's libbrotlidec and libzstd) are live
    # in the hashed corpus, including chunked-over-compressed bodies.
    """
    with base as (
      select doc_id, cast(doc_id as bigint) as d, 3 + doc_id % 4 as n
      from documents where doc_id % 9 = 4
    )
    select doc_id,
           cast(i as integer) as rec_idx,
           'http://ex.com/' || d || '/' || i as uri,
           cast(case cast((d + i) % 3 as integer)
                when 0 then 200 when 1 then 404 else 301 end
               as integer) as status,
           case when i % 2 = 0 then 'text/html' else 'text/plain' end
             as content_type,
           'body-' || d || '-' || i as body_text,
           cast(length('body-' || d || '-' || i) as integer) as body_len,
           d % 2 = 1 as gzipped,
           (d + i) % 4 = 1 as chunked,
           case cast((d + 2*i) % 7 as integer)
                when 1 then 'gzip' when 2 then 'deflate'
                when 3 then 'deflate' when 4 then 'br'
                when 5 then 'zstd' else null end as content_encoding
    from base, unnest(generate_series(0, 6)) u(i) where i < n
    """,
)
def scan_warc_responses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC crawl ingest (operators/warc.py — the Common Crawl format):
    per doc, build a WARC containing n HTTP response records plus an
    interleaved request record (which the reader must route away), in
    BOTH storage layouts by parity — plain concatenation and the
    per-record gzip-member form Common Crawl ships (multi-member
    gunzip via the zlib unused_data contract) — then run the ingest
    composition: record walk -> WARC-Type filter -> HTTP envelope
    parse. Body framing cycles Content-Length AND RFC 7230 chunked
    transfer-encoding (de-chunked through hex size lines with 5-byte
    chunks, so every body spans several chunks — VERDICT r13 task #3).
    Representation coding cycles identity, gzip, zlib-wrapped deflate
    and the widespread raw-deflate server bug (browser-style wrapped-
    then-raw retry), composing with chunked framing the way real
    servers layer them (chunks carry the COMPRESSED bytes). The oracle
    restates every uri/status/content-type/body closed-form; a framing
    or decoding slip flips the hash."""
    from pyspark.sql import types as T

    from pyiceberg_lakehouse_spark.operators import warc as _warc

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 9 == 4)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("rec_idx", T.IntegerType()),
            T.StructField("uri", T.StringType()),
            T.StructField("status", T.IntegerType()),
            T.StructField("content_type", T.StringType()),
            T.StructField("body_text", T.StringType()),
            T.StructField("body_len", T.IntegerType()),
            T.StructField("gzipped", T.BooleanType()),
            T.StructField("chunked", T.BooleanType()),
            T.StructField("content_encoding", T.StringType()),
        ]
    )
    statuses = (200, 404, 301)
    codings = (None, "gzip", "deflate", "deflate-raw", "br", "zstd", None)

    def rows_for_doc(d):
        gz = d % 2 == 1
        recs = []
        for i in range(3 + d % 4):
            http = _warc.build_http_response(
                statuses[(d + i) % 3], "X",
                [("Content-Type", "text/html" if i % 2 == 0 else "text/plain")],
                f"body-{d}-{i}".encode(),
                chunk_size=5 if (d + i) % 4 == 1 else None,
                content_encoding=codings[(d + 2 * i) % 7],
            )
            recs.append(
                {"type": "response", "uri": f"http://ex.com/{d}/{i}", "block": http}
            )
            if i == 0:
                recs.append(
                    {
                        "type": "request",
                        "uri": f"http://ex.com/{d}/0",
                        "block": b"GET / HTTP/1.1\r\n\r\n",
                    }
                )
        payload = _warc.make_warc(recs, gzip_records=gz)
        for i, r in enumerate(_warc.warc_responses(payload)):
            yield (
                d, i, r["uri"], r["status"], r["content_type"],
                r["body"].decode(), len(r["body"]), gz, (d + i) % 4 == 1,
                r["headers"].get("content-encoding"),
            )

    return map_docs(docs, rows_for_doc, schema, sf_dir=sf_dir)


@register(
    "scan_archive_entries",
    # Filter modulus 9 is coprime with the format (%2), entry-count
    # (%5), zip-method (%3), zip64 (%7), streaming (%11) and size
    # knobs, so tar, both zip methods, the classic + zip64 header
    # forms, the one-pass-writer data-descriptor form (flag bit 3,
    # zeroed local sizes — sizes must come from the central directory),
    # AND — r15 — ZipCrypto-encrypted entries (%13 knob; decrypted with
    # the per-doc password, check byte + CRC verified) are all live in
    # the driver-hashed corpus.
    """
    with base as (
      select doc_id, cast(doc_id as bigint) as d, 3 + doc_id % 5 as n
      from documents where doc_id % 9 = 5
    )
    select doc_id,
           case when d % 2 = 0 then 'tar' else 'zip' end as fmt,
           cast(i as integer) as entry_idx,
           'dir-' || (d % 3) || '/file-' || i || '.bin' as name,
           cast(20 + (d + 3*i) % 40 as integer) as size_bytes,
           cast((select sum((d + i + 7*j) % 256)
                 from generate_series(0, 58) g(j)
                 where j < 20 + (d + 3*i) % 40) as bigint) as byte_sum,
           d % 2 = 1 and d % 3 != 0 as deflated,
           d % 2 = 1 and d % 7 >= 4 as zip64,
           d % 2 = 1 and d % 7 < 4 and d % 11 < 4 as streaming,
           d % 2 = 1 and d % 7 < 4 and d % 11 >= 4 and d % 13 < 5
             as encrypted,
           case when d % 2 = 1 then 'none'
                else case cast((d // 2) % 6 as integer)
                     when 0 then 'none' when 1 then 'gzip'
                     when 2 then 'xz' when 3 then 'bz2'
                     when 4 then 'zstd'
                     else 'snappy-framed' end end as wrapper
    from base, unnest(generate_series(0, 7)) u(i) where i < n
    """,
)
def scan_archive_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archive explosion (operators/archives.py): per doc, build a tar
    (even docs: ustar headers with checksums, block padding, a GNU
    long-name record exercised in pytest) or a zip (odd docs: central
    directory walked from EOCD, method stored/deflate cycling, CRC-32
    verified on every extraction, and the zip64 HEADER FORM cycling in
    — sentinel fields resolved through per-entry 0x0001 extras and the
    EOCD64 locator + record, VERDICT r13 task #3), then explode it to
    one row per entry with the extracted bytes' sum. The oracle
    restates names, sizes and byte sums closed-form — a block-padding
    slip, a wrong size field, a central-directory offset error, or a
    zip64 sentinel misread flips the hash. r15: the tar wrapper cycle
    adds .tar.zst, decoded through pyarrow's libzstd
    (operators/codec.py) from frames encoded across compression
    levels. This is the first operator of every 'corpus ships as
    archives' ingest pipeline."""
    from pyspark.sql import types as T

    from pyiceberg_lakehouse_spark.operators import archives as _ar
    from pyiceberg_lakehouse_spark.operators.multimodal import _cf_bytes

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 9 == 5)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("fmt", T.StringType()),
            T.StructField("entry_idx", T.IntegerType()),
            T.StructField("name", T.StringType()),
            T.StructField("size_bytes", T.IntegerType()),
            T.StructField("byte_sum", T.LongType()),
            T.StructField("deflated", T.BooleanType()),
            T.StructField("zip64", T.BooleanType()),
            T.StructField("streaming", T.BooleanType()),
            T.StructField("encrypted", T.BooleanType()),
            T.StructField("wrapper", T.StringType()),
        ]
    )

    def rows_for_doc(d):
        entries = [
            {
                "name": f"dir-{d % 3}/file-{i}.bin",
                "data": _cf_bytes(d + i, 7, 20 + (d + 3 * i) % 40),
            }
            for i in range(3 + d % 5)
        ]
        zip64 = False
        streaming = False
        wrapper = "none"
        if d % 2 == 0:
            fmt = "tar"
            wrapper = ["none", "gzip", "xz", "bz2", "zstd",
                       "snappy-framed"][(d // 2) % 6]
            blob = _ar.make_tar(entries)
            if wrapper == "gzip":
                import gzip as _gz

                blob = _gz.compress(blob)
            elif wrapper == "xz":
                import lzma as _lz

                blob = _lz.compress(blob)
            elif wrapper == "bz2":
                import bz2 as _b2

                blob = _b2.compress(blob)
            elif wrapper == "zstd":
                # pyarrow's bundled libzstd, encoded at a
                # level cycling with the doc id
                import pyarrow as _pa

                blob = _pa.Codec(
                    "zstd", compression_level=1 + d % 19
                ).compress(blob, asbytes=True)
            elif wrapper == "snappy-framed":
                # the .tar.sz form — snappy FRAMING
                # stream (chunked, masked-CRC32C) from
                # operators/snappy.py, both directions
                from pyiceberg_lakehouse_spark.operators.snappy import (
                    frame_compress,
                )

                blob = frame_compress(blob)
            unwrapped, got_codec = _ar.decompress_auto(blob)
            assert got_codec == wrapper, (got_codec, wrapper)
            parsed = _ar.parse_tar(unwrapped)
            deflated = False
        else:
            fmt = "zip"
            method = 0 if d % 3 == 0 else 8
            zip64 = d % 7 >= 4
            streaming = not zip64 and d % 11 < 4
            encrypted = not zip64 and not streaming and d % 13 < 5
            pw = b"pw-%d" % d if encrypted else None
            parsed = _ar.parse_zip(
                _ar.make_zip(
                    entries, method=method, zip64=zip64,
                    streaming=streaming, password=pw,
                ),
                password=pw,
            )
            deflated = method == 8
        for i, e in enumerate(parsed):
            yield (
                d, fmt, i, e["name"], len(e["data"]), sum(e["data"]),
                deflated, zip64, streaming,
                fmt == "zip" and bool(e.get("encrypted")),
                wrapper,
            )

    return map_docs(docs, rows_for_doc, schema, sf_dir=sf_dir)


@register(
    "text_pdf_images",
    # Planted scanned-page PDFs: per doc, 1-2 pages each carrying 1-2
    # image XObjects cycling CCITT G4 (K<0), G3 1-D (K=0,
    # EncodedByteAlign), Flate gray-8 and raw gray-8, with BlackIs1
    # cycling on the CCITT forms (the filter's output-polarity knob).
    # Bilevel value = black-pixel count of the planted parity raster
    # ((d + pg + 3x + 5y) % 2 == (d + pg + x + y) % 2); gray value =
    # byte sum of the planted (d*7 + 13*pg + 11*j) % 256 ramp. Filter
    # modulus 17 residue 3 is coprime with the page (%2), image (%2),
    # codec (%4), polarity (%3) and size (%12, %9) knobs.
    """
    with base as (
      select doc_id, cast(doc_id as bigint) as d, 1 + doc_id % 2 as npages
      from documents where doc_id % 17 = 3
    ),
    imgs as (
      select doc_id, d, cast(p.pg as bigint) as pg, cast(i.i as bigint) as i,
             9 + (d + 2*p.pg) % 12 as w, 6 + (d + 3*i.i) % 9 as h,
             case cast((d + 2*p.pg + i.i) % 4 as integer)
                  when 0 then 'g4' when 1 then 'g3'
                  when 2 then 'flate' else 'raw' end as codec
      from base,
           unnest(generate_series(0, npages - 1)) p(pg),
           unnest(generate_series(0, 1)) i(i)
      where i.i <= (d + p.pg) % 2
    )
    select doc_id,
           cast(pg as integer) as page,
           cast(i as integer) as img_idx,
           cast(w as integer) as width,
           cast(h as integer) as height,
           cast(case when codec in ('g4', 'g3') then 1 else 8 end
               as integer) as bpc,
           case when codec in ('g4', 'g3') then 'CCITTFaxDecode'
                when codec = 'flate' then 'FlateDecode'
                else 'none' end as filter,
           cast(case when codec in ('g4', 'g3')
                then (select count(*)
                      from generate_series(0, 20) gx(x),
                           generate_series(0, 14) gy(y)
                      where x < w and y < h
                        and (d + pg + x + y) % 2 = 1)
                else (select sum((d*7 + 13*pg + 11*j) % 256)
                      from generate_series(0, 279) gj(j)
                      where j < w * h) end as bigint) as value_sum,
           true as exact_roundtrip
    from imgs
    """,
)
def text_pdf_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scanned-page image extraction from PDFs (operators/pdf.py::
    extract_pdf_images + operators/ccitt.py): per doc, build a PDF whose
    pages embed image XObjects — CCITT G4 / G3-1D fax rasters (the
    scanned-document overlap VERDICT r14 flagged, both BlackIs1
    polarities), Flate-compressed and raw gray-8 ramps — then walk
    /Resources /XObject back through the real xref machinery, decode
    every image, and report per-image pixel statistics the oracle
    restates closed-form. Arrow-batched mapInPandas, map-only."""
    import numpy as np

    from pyspark.sql import types as T

    from pyiceberg_lakehouse_spark.operators import pdf as _pdf

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 17 == 3)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("page", T.IntegerType()),
            T.StructField("img_idx", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("bpc", T.IntegerType()),
            T.StructField("filter", T.StringType()),
            T.StructField("value_sum", T.LongType()),
            T.StructField("exact_roundtrip", T.BooleanType()),
        ]
    )

    def rows_for_doc(d):
        npages = 1 + d % 2
        images: dict[int, list[dict]] = {}
        planted: dict[tuple[int, int], tuple] = {}
        for pg in range(npages):
            specs = []
            for i in range((d + pg) % 2 + 1):
                w = 9 + (d + 2 * pg) % 12
                h = 6 + (d + 3 * i) % 9
                codec = ("g4", "g3", "flate", "raw")[(d + 2 * pg + i) % 4]
                if codec in ("g4", "g3"):
                    y, x = np.ogrid[0:h, 0:w]
                    bits = ((d + pg + 3 * x + 5 * y) % 2).astype(np.uint8)
                    specs.append(
                        {
                            "width": w, "height": h, "codec": codec,
                            "data": np.packbits(bits, axis=1).tobytes(),
                            "blackis1": (d + pg + i) % 3 != 0,
                        }
                    )
                    planted[(pg, i)] = (codec, bits)
                else:
                    data = bytes(
                        (d * 7 + 13 * pg + 11 * j) % 256 for j in range(w * h)
                    )
                    specs.append(
                        {"width": w, "height": h, "codec": codec, "data": data}
                    )
                    planted[(pg, i)] = (codec, data)
            images[pg] = specs
        blob = _pdf.encode_pdf(
            [[f"scan {d} page {pg}"] for pg in range(npages)],
            compress=d % 2 == 0,
            xref_stream=d % 3 == 0,
            images=images,
        )
        for im in _pdf.extract_pdf_images(blob):
            pg, name = im["page"], im["name"]
            i = int(name[2:])  # Im0 / Im1
            codec, want = planted[(pg, i)]
            if codec in ("g4", "g3"):
                rb = (im["width"] + 7) // 8
                got = np.unpackbits(
                    np.frombuffer(im["pixels"], dtype=np.uint8).reshape(
                        im["height"], rb
                    ),
                    axis=1,
                )[:, : im["width"]]
                value = int(got.sum())
                exact = bool((got == want).all())
            else:
                value = sum(im["pixels"])
                exact = im["pixels"] == want
            yield (
                d, pg, i, im["width"], im["height"], im["bpc"], im["filter"],
                value, exact,
            )

    return map_docs(docs, rows_for_doc, schema, sf_dir=sf_dir)


@register(
    "scan_avro_roundtrip",
    # Planted Avro Object Container Files (operators/avro.py — the
    # from-scratch reader/writer closing the repo's last gated tabular
    # source): per doc, records with long/string/nullable-double/
    # array/enum/map columns written at ALL SIX spec codecs —
    # null/deflate/snappy/bzip2/xz/zstandard (snappy and zstandard
    # round-tripped through pyarrow's libsnappy and libzstd, snappy
    # with the spec's CRC32 suffix) —
    # and 1 vs 3-row blocks, decoded back through the strict container
    # walk (sync markers, metadata map, zigzag varints). One row per
    # record with scalars + flattened collection features. Filter
    # modulus 21 residue 5; knobs %6 (codec), %3 (blocking), %4 (rows),
    # %5/%7 (values).
    """
    with base as (
      select doc_id, cast(doc_id as bigint) as d, 2 + doc_id % 4 as n
      from documents where doc_id % 21 = 5
    )
    select doc_id,
           cast(r as integer) as rec_idx,
           cast(d * 100 + r as bigint) as id,
           'name-' || d || '-' || r as name,
           cast(case when (d + r) % 3 = 0 then null
                else (d % 97) * 0.5 + r end as double) as score,
           cast((d + r) % 4 as integer) as n_tags,
           case cast((d + 2*r) % 3 as integer)
                when 0 then 'NEW' when 1 then 'OK' else 'BAD' end as status,
           cast((select coalesce(sum((d + r + j) % 11), 0)
                 from generate_series(0, 2) gj(j)
                 where j < (d + r) % 3) as bigint) as attr_sum,
           case cast(d % 6 as integer)
                when 0 then 'null' when 1 then 'deflate'
                when 2 then 'snappy' when 3 then 'bzip2'
                when 4 then 'xz' else 'zstandard' end as codec,
           cast(case when d % 3 = 0
                then (2 + d % 4 + 2) // 3 else 1 end as integer) as n_blocks
    from base, unnest(generate_series(0, 5)) u(r) where r < n
    """,
)
def scan_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro object-container source (operators/avro.py): per doc, write
    records through the from-scratch encoder — zigzag varints, union
    null columns, array/enum/map values, all six spec codecs cycling,
    single vs multi-record blocks framed by sync markers — read them
    back with the strict decoder, and emit one row per record with the
    collection features flattened to scalars. The oracle restates every
    value closed-form. Arrow-batched mapInPandas, map-only."""
    from pyspark.sql import types as T

    from pyiceberg_lakehouse_spark.operators import avro as _avro

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 21 == 5)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("rec_idx", T.IntegerType()),
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("n_tags", T.IntegerType()),
            T.StructField("status", T.StringType()),
            T.StructField("attr_sum", T.LongType()),
            T.StructField("codec", T.StringType()),
            T.StructField("n_blocks", T.IntegerType()),
        ]
    )
    avro_schema = {
        "type": "record", "name": "Doc", "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
            {"name": "score", "type": ["null", "double"]},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "status", "type": {
                "type": "enum", "name": "S",
                "symbols": ["NEW", "OK", "BAD"],
            }},
            {"name": "attrs", "type": {"type": "map", "values": "int"}},
        ],
    }

    def rows_for_doc(d):
        recs = [
            {
                "id": d * 100 + r,
                "name": f"name-{d}-{r}",
                "score": None if (d + r) % 3 == 0 else (d % 97) * 0.5 + r,
                "tags": [f"t{j}" for j in range((d + r) % 4)],
                "status": ("NEW", "OK", "BAD")[(d + 2 * r) % 3],
                "attrs": {f"k{j}": (d + r + j) % 11 for j in range((d + r) % 3)},
            }
            for r in range(2 + d % 4)
        ]
        codec = ("null", "deflate", "snappy", "bzip2", "xz", "zstandard")[d % 6]
        out = _avro.decode_avro(
            _avro.encode_avro(
                recs, avro_schema, codec=codec,
                block_records=3 if d % 3 == 0 else 0,
            )
        )
        assert out["codec"] == codec
        for r, rec in enumerate(out["records"]):
            yield (
                d, r, rec["id"], rec["name"], rec["score"], len(rec["tags"]),
                rec["status"], sum(rec["attrs"].values()), codec,
                out["n_blocks"],
            )

    return map_docs(docs, rows_for_doc, schema, sf_dir=sf_dir)
