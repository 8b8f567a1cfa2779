"""Corpus queries: exact and near-duplicate detection, quality and
language signals, retrieval (inverted index, BM25, ANN), corpus
preparation, sampling and link analysis over the documents graph."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from insights_spark import synth as _synth
from insights_spark.queries import query
from insights_spark.queries._fixtures import _t
from insights_spark.session import local_df, pin
from insights_spark.text.pii import EMAIL_RE, IPV4_RE, PHONE_RE


_POLY_HASH = (
    "list_reduce(list_prepend(7::BIGINT, list_transform(string_split({s}, ''), "
    "c -> ascii(c)::BIGINT)), (a, b) -> (a * 31 + b) % 1000000007)"
)

_TOKENS = (
    "list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')"
)


def _kmeans_sql() -> str:
    """Unrolled integer Lloyd k-means: the same floor-quantize /
    argmin-(dist, cid) / floor-mean-adjusted-numerator recurrence as
    text/simsearch.py:kmeans_lloyd_int. The power-of-two scale makes the
    quantization exact in both engines; ``(s - ((s % m + m) % m)) // m``
    hits an exact multiple so DuckDB's truncating ``//`` equals Spark's
    truncating ``div`` equals floor, negative sums included."""
    k, iters, scale, d = 8, 3, 1024, 64
    dist = (f"CAST(list_aggregate(list_transform(range(1, {d + 1}), "
            f"i -> (q.q[i] - c.cv[i]) * (q.q[i] - c.cv[i])), 'sum') "
            f"AS BIGINT)")
    parts = [f"""
        q AS (SELECT vec_id AS id,
                     list_transform(embedding, x ->
                       CAST(floor(CAST(x AS DOUBLE) * {scale}.0) AS BIGINT))
                       AS q
              FROM embeddings),
        c0 AS (SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT)
                      AS cid, q AS cv
               FROM q ORDER BY id LIMIT {k})"""]
    for t in range(iters):
        parts.append(f"""
        d{t} AS (SELECT q.id, q.q, c.cid, {dist} AS dist
                 FROM q CROSS JOIN c{t} c),
        a{t} AS (SELECT id, q, cid, dist FROM (
                   SELECT *, row_number() OVER (PARTITION BY id
                            ORDER BY dist, cid) AS rn FROM d{t})
                 WHERE rn = 1)""")
        if t < iters - 1:
            parts.append(f"""
        u{t} AS (SELECT cid, pos, (s - ((s % m + m) % m)) // m AS c FROM (
                   SELECT cid, u.i AS pos, CAST(sum(q[u.i]) AS BIGINT) AS s,
                          CAST(count(*) AS BIGINT) AS m
                   FROM a{t} CROSS JOIN
                        (SELECT unnest(range(1, {d + 1})) AS i) u
                   GROUP BY 1, 2)),
        c{t + 1} AS (SELECT c{t}.cid, coalesce(n.cv, c{t}.cv) AS cv
                     FROM c{t} LEFT JOIN
                          (SELECT cid, list(c ORDER BY pos) AS cv
                           FROM u{t} GROUP BY cid) n USING (cid))""")
    last = iters - 1
    return f"""
        WITH {','.join(parts)}
        SELECT r.cluster, r.n, r.inertia, c.cv AS centroid
        FROM (SELECT cid AS cluster, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(dist) AS BIGINT) AS inertia
              FROM a{last} GROUP BY 1) r
        JOIN c{last} c ON c.cid = r.cluster
    """


def _doc_graph(docs):
    """The 3-out doc link graph (src, dst) every graph query reads: three
    deterministic out-links per doc, dst = (doc_id·7919 + 104729·k) mod n
    for k = 1, 2, 3, self-links dropped, multi-edges kept. Takes the
    documents table so a query that also needs its nodes or seeds reads
    it once: a second read measured ~7% slower on pagerank at sf0.1."""
    n_df = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        docs.select("doc_id")
        .crossJoin(F.broadcast(n_df))
        .select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(*[
                F.pmod(F.col("doc_id") * 7919 + 104729 * k, F.col("n"))
                for k in (1, 2, 3)
            ])).alias("dst"),
        )
        .filter(F.col("dst") != F.col("src"))
    )


# _doc_graph on the oracle side: CTEs nn (the doc count) and e0 (the edges)
_DOC_GRAPH_SQL = """
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        e0 AS (SELECT src, dst FROM (
                 SELECT doc_id AS src,
                        mod(doc_id * 7919 + 104729 * k.k, nn.n) AS dst
                 FROM documents, nn, (SELECT unnest([1, 2, 3]) AS k) k)
               WHERE dst <> src)"""


def _kcore_sql(k: int) -> str:
    """Unrolled 6-round k-core peel over the shared symmetrized 3-out doc
    graph: d_t = degrees induced by alive_t, alive_{t+1} = {d_t >= k},
    output = final d where >= k — same recurrence as
    text/links.py:kcore_peel."""
    rounds = 6
    parts = [_DOC_GRAPH_SQL + """,
        e AS (SELECT src, dst FROM e0
              UNION SELECT dst, src FROM e0),
        a0 AS (SELECT DISTINCT src AS id FROM e)"""]
    for t in range(rounds):
        parts.append(f"""
        d{t} AS (SELECT e.src AS id, CAST(count(*) AS BIGINT) AS core_deg
                 FROM e JOIN a{t} x ON e.src = x.id
                        JOIN a{t} y ON e.dst = y.id
                 GROUP BY 1),
        a{t + 1} AS (SELECT id FROM d{t} WHERE core_deg >= {k})""")
    return f"""
        WITH {','.join(parts)}
        SELECT id AS doc_id, core_deg FROM d{rounds - 1}
        WHERE core_deg >= {k}
    """


def _hits_sql() -> str:
    """Unrolled integer HITS over the shared 3-out doc graph (multi-edges
    preserved): same sum / L-inf div-normalize recurrence as
    text/links.py:hits_fixed_point; all operands nonnegative so DuckDB's
    truncating ``//`` equals Spark's ``div`` equals floor. Four rounds,
    scores scaled by 10⁶."""
    iters, scale = 4, 10**6
    parts = [_DOC_GRAPH_SQL + """,
        e AS (SELECT src, dst FROM e0),
        nodes AS (SELECT DISTINCT id FROM (
                    SELECT src AS id FROM e
                    UNION ALL SELECT dst FROM e)),
        h0 AS (SELECT id, CAST(1 AS BIGINT) AS h FROM nodes)"""]
    for t in range(iters):
        parts.append(f"""
        ar{t} AS (SELECT e.dst AS id, CAST(sum(hh.h) AS BIGINT) AS raw
                  FROM e JOIN h{t} hh ON e.src = hh.id GROUP BY 1),
        am{t} AS (SELECT greatest(coalesce(max(raw), 0), 1) AS m
                  FROM ar{t}),
        a{t} AS (SELECT n.id,
                        CAST((coalesce(ar.raw, 0) * {scale}) // am.m
                             AS BIGINT) AS a
                 FROM nodes n LEFT JOIN ar{t} ar ON ar.id = n.id
                      CROSS JOIN am{t} am),
        hr{t} AS (SELECT e.src AS id, CAST(sum(aa.a) AS BIGINT) AS raw
                  FROM e JOIN a{t} aa ON e.dst = aa.id GROUP BY 1),
        hm{t} AS (SELECT greatest(coalesce(max(raw), 0), 1) AS m
                  FROM hr{t}),
        h{t + 1} AS (SELECT n.id,
                            CAST((coalesce(hr.raw, 0) * {scale}) // hm.m
                                 AS BIGINT) AS h
                     FROM nodes n LEFT JOIN hr{t} hr ON hr.id = n.id
                          CROSS JOIN hm{t} hm)""")
    last = iters - 1
    return f"""
        WITH {','.join(parts)}
        SELECT n.id AS doc_id, h.h AS hub, a.a AS auth
        FROM nodes n JOIN h{iters} h ON h.id = n.id
             JOIN a{last} a ON a.id = n.id
    """


def _lpa_sql() -> str:
    """Unrolled 4-round synchronous label propagation over the shared
    3-out doc graph (symmetrized, self-loops dropped): same (count DESC,
    label ASC) struct-argmax recurrence as text/links.py:label_propagation."""
    iters = 4
    parts = [_DOC_GRAPH_SQL + """,
        e AS (SELECT src, dst FROM e0
              UNION
              SELECT dst, src FROM e0),
        l0 AS (SELECT DISTINCT src AS id, src AS label FROM e)"""]
    for t in range(iters):
        parts.append(f"""
        c{t} AS (SELECT e.dst AS id, l.label,
                        CAST(count(*) AS BIGINT) AS c
                 FROM e JOIN l{t} l ON e.src = l.id
                 GROUP BY 1, 2),
        l{t + 1} AS (SELECT id,
                            (min({{'negc': -c, 'l': label}})).l AS label
                     FROM c{t} GROUP BY id)""")
    return f"""
        WITH {','.join(parts)}
        SELECT id, label FROM l{iters}
    """


def _pagerank_sql() -> str:
    """Unrolled fixed-point PageRank: the same integer recurrence as
    text/links.py (score' = floor(3e12/(20n)) + Σ floor(score·17/(20·deg)))
    over the same deterministic 3-out graph — `//` is DuckDB floor
    division, exact for the all-positive operands; the per-step CAST back
    to BIGINT matches Spark's long sums (DuckDB SUM(BIGINT) widens to
    HUGEINT). Five steps."""
    iters = 5
    steps = []
    for i in range(iters):
        steps.append(f"""
        c{i} AS (SELECT e.dst AS id,
                        sum((s.score * 17) // (20 * deg.outdeg)) AS cs
                 FROM e JOIN s{i} s ON e.src = s.id
                        JOIN deg ON deg.src = e.src
                 GROUP BY 1),
        s{i + 1} AS (SELECT nodes.id,
                            CAST((3000000000000 // (20 * nn.n))
                                 + COALESCE(c{i}.cs, 0) AS BIGINT) AS score
                     FROM nodes CROSS JOIN nn
                     LEFT JOIN c{i} ON c{i}.id = nodes.id)""")
    return f"""
        WITH {_DOC_GRAPH_SQL},
        nodes AS (SELECT doc_id AS id FROM documents),
        e AS (SELECT src, dst FROM e0),
        deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
                FROM e GROUP BY 1),
        s0 AS (SELECT id, CAST(1000000000000 // nn.n AS BIGINT) AS score
               FROM nodes, nn),
        {','.join(steps)}
        SELECT id AS doc_id, score AS score_fp FROM s{iters}
    """


stopwords_en = "('the','a','and','of','to','in','is','it','that','for')"

langs = {
    "en": stopwords_en,
    "de": "('der','die','das','und','ist','zu','den','nicht','von','mit')",
    "fr": "('le','la','les','et','est','un','une','des','que','pour')",
    "sw": "('na','ya','wa','kwa','ni','za','katika','hii','kuwa','la')",
}

lang_scores = ", ".join(
    f"CASE WHEN len({_TOKENS}) > 0 THEN len(list_filter({_TOKENS}, "
    f"t -> t IN {sw}))::DOUBLE / len({_TOKENS}) ELSE 0.0 END AS r_{lang}"
    for lang, sw in langs.items()
)

# full MinHash-LSH near-dup oracle: 16-hash signature over word-3-gram
# poly hashes, 4 bands of 4, band-bucket join, exact-Jaccard verify —
# the same algebra as text.dedup.minhash_near_dups.
sig16 = ", ".join(
    f"coalesce(list_min(list_transform(hs, h -> (h * {2 * k + 1} + {7919 * (k + 1)})"
    f" % 1000000007)), 1000000007)"
    for k in range(16)
)

cdc_sql = f"""
            WITH d AS (SELECT doc_id, text AS s, length(text) AS L
                       FROM documents
                       WHERE text IS NOT NULL AND length(text) > 0),
            bpos AS (SELECT doc_id,
                            unnest(list_filter(range(8, L + 1),
                                i -> list_reduce(list_prepend(7::BIGINT, list_transform(string_split(substr(s, i - 7, 8), ''), c -> ascii(c)::BIGINT)), (a, b) -> (a * 31 + b) % 1000000007) % 64 = 0)) AS b
                     FROM d),
            lastc AS (SELECT doc_id, max(b) AS lb FROM bpos GROUP BY doc_id),
            cuts AS (SELECT doc_id, b FROM bpos
                     UNION ALL
                     SELECT d.doc_id, d.L AS b
                     FROM d LEFT JOIN lastc USING (doc_id)
                     WHERE coalesce(lastc.lb, 0) < d.L),
            spans AS (SELECT doc_id, b,
                             coalesce(lag(b) OVER (PARTITION BY doc_id
                                                   ORDER BY b), 0) AS pb,
                             row_number() OVER (PARTITION BY doc_id
                                                ORDER BY b) - 1 AS cidx
                      FROM cuts)
            SELECT sp.doc_id, CAST(sp.cidx AS INT) AS chunk_idx,
                   CAST(sp.pb + 1 AS BIGINT) AS start,
                   CAST(sp.b - sp.pb AS BIGINT) AS length,
                   CAST(list_reduce(list_prepend(7::BIGINT, list_transform(string_split(substr(d.s, pb + 1, b - pb), ''), c -> ascii(c)::BIGINT)), (a, b) -> (a * 31 + b) % 1000000007) AS BIGINT) AS chash
            FROM spans sp JOIN d USING (doc_id)
    """


@query("exact_dedup", headline=True, oracle="""
            SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
                   CAST(count(*) AS BIGINT) AS dup_count
            FROM (SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS norm
                  FROM documents)
            GROUP BY norm
        """)
def _q_exact_dedup(spark, sf_dir):
    """Dedup: exact — hash-groupBy on normalized text, min-id representative."""
    from insights_spark.text.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


@query("token_stats", oracle=f"""
            SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
                   CAST(len({_TOKENS}) AS INT) AS n_tokens,
                   CAST(len(regexp_extract_all(lower(text),
                        '[a-z]+|[0-9]+|[^a-z0-9\\s]+')) AS INT) AS n_bpe
            FROM documents
        """)
def _q_token_stats(spark, sf_dir):
    """Token counting: whitespace tokens + BPE-ish regex count."""
    from insights_spark.text.quality import bpe_ish_count, token_count

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        token_count(F.col("text")).alias("n_tokens"),
        bpe_ish_count(F.col("text")).alias("n_bpe"),
    )


@query("quality", headline=True, oracle=f"""
            SELECT doc_id,
                   CAST(len({_TOKENS}) AS INT) AS n_tokens,
                   CASE WHEN len({_TOKENS}) > 0 THEN
                     len(list_filter({_TOKENS}, t -> t IN {stopwords_en}))::DOUBLE
                     / len({_TOKENS}) ELSE 0.0 END AS stopword_ratio,
                   CASE WHEN len({_TOKENS}) > 0 THEN
                     len(list_distinct({_TOKENS}))::DOUBLE / len({_TOKENS})
                     ELSE 0.0 END AS uniq_token_ratio,
                   CASE WHEN len({_TOKENS}) > 0 THEN
                     length(regexp_replace(lower(text), '\\s+', '', 'g'))::DOUBLE
                     / len({_TOKENS}) ELSE 0.0 END AS avg_token_len
            FROM documents
        """)
def _q_quality(spark, sf_dir):
    """Quality scoring: stopword/uniq-token/punct ratios (exact ratios)."""
    from insights_spark.text.quality import quality_scores

    d = _t(spark, sf_dir, "documents")
    return quality_scores(d).select(
        "doc_id", "n_tokens", "stopword_ratio", "uniq_token_ratio", "avg_token_len"
    )


@query("lang_id", headline=True, oracle=f"""
            WITH scored AS (SELECT doc_id, {lang_scores} FROM documents)
            SELECT doc_id,
                   CASE WHEN greatest(r_en, r_de, r_fr, r_sw) <= 0 THEN NULL
                        WHEN r_de >= r_en AND r_de >= r_fr AND r_de >= r_sw THEN 'de'
                        WHEN r_en >= r_fr AND r_en >= r_sw THEN 'en'
                        WHEN r_fr >= r_sw THEN 'fr'
                        ELSE 'sw' END AS lang_pred
            FROM scored
        """)
def _q_lang_id(spark, sf_dir):
    """Language id: stopword-density argmax with deterministic ties."""
    from insights_spark.text.quality import lang_id

    d = _t(spark, sf_dir, "documents")
    return lang_id(d).select("doc_id", "lang_pred")


@query("cdc_chunks", headline=True, oracle=cdc_sql)
def _q_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (text/dedup.py cdc_chunks): rolling-hash
    anchors cut chunks where poly_hash of the trailing 8 chars ≡ 0 mod
    64 — boundaries track CONTENT, so edits only perturb chunks up to
    the next anchor (the robustness fixed-stride passage_dedup lacks).
    Map-only, no shuffle; the oracle replays the same per-window
    polynomial predicate + lag spans in SQL."""
    from insights_spark.text.dedup import cdc_chunks

    return cdc_chunks(_t(spark, sf_dir, "documents"))


@query("cdc_containment", headline=True, oracle=f"""
            WITH chunks AS ({cdc_sql}),
            ch AS (SELECT DISTINCT doc_id, chash, length FROM chunks),
            keep AS (SELECT chash, length FROM ch
                     GROUP BY 1, 2 HAVING count(*) <= 64),
            k AS (SELECT ch.doc_id, ch.chash, ch.length
                  FROM ch JOIN keep USING (chash, length)),
            pairs AS (SELECT k1.doc_id AS a, k2.doc_id AS b,
                             CAST(sum(k1.length) AS BIGINT) AS shared_bytes
                      FROM k k1 JOIN k k2 USING (chash, length)
                      WHERE k1.doc_id < k2.doc_id
                      GROUP BY 1, 2),
            dl AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS len
                   FROM documents
                   WHERE text IS NOT NULL AND length(text) > 0)
            SELECT p.a, p.b, p.shared_bytes,
                   da.len AS a_len, db.len AS b_len
            FROM pairs p
            JOIN dl da ON da.doc_id = p.a
            JOIN dl db ON db.doc_id = p.b
            WHERE p.shared_bytes * 1000000 >= 200000 * least(da.len, db.len)
        """)
def _q_cdc_containment(spark, sf_dir):
    """CDC-chunk containment (text/dedup.py cdc_containment): pairs from
    the chunk-hash equi-join only (df-capped at 64 — boilerplate chunks
    leave candidate generation like hot grams in the minhash cap), shared
    DISTINCT chunk bytes vs min(doc length), exact integer gate at 20%."""
    from insights_spark.text.dedup import cdc_containment

    return cdc_containment(_t(spark, sf_dir, "documents"))


norm_text = "regexp_replace(lower(text), '\\s+', ' ', 'g')"
fp_expr = _POLY_HASH.format(s=norm_text)


@query("fingerprint", oracle=f"""
            SELECT doc_id, {fp_expr} AS fp
            FROM documents
        """)
def _q_fingerprint(spark, sf_dir):
    """Document fingerprint: portable polynomial rolling hash."""
    from insights_spark.text.quality import doc_fingerprint

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", doc_fingerprint(F.col("text")).alias("fp"))


mh = [
    f"coalesce(list_min(list_transform(list_distinct({_TOKENS}), "
    f"t -> ({_POLY_HASH.format(s='t')} * {2 * k + 1} + {7919 * (k + 1)}) % 1000000007)), "
    f"1000000007) AS mh{k}"
    for k in range(4)
]


@query("minhash", headline=True, oracle=f"""
            SELECT doc_id, {', '.join(mh)} FROM documents
        """)
def _q_minhash(spark, sf_dir):
    """MinHash signatures (token-level, 4 portable hash functions)."""
    from insights_spark.text.dedup import minhash_signature_np

    d = _t(spark, sf_dir, "documents")
    sig = minhash_signature_np(num_hashes=4, n=1)(F.col("text"))
    return d.select(
        "doc_id",
        sig[0].alias("mh0"), sig[1].alias("mh1"),
        sig[2].alias("mh2"), sig[3].alias("mh3"),
    )


@query("ngram_jaccard", headline=True, oracle=f"""
            WITH toks AS (SELECT doc_id, {_TOKENS} AS tok FROM documents),
            grams0 AS (
              SELECT doc_id, unnest(list_distinct(list_transform(
                       range(1, len(tok) - 1),
                       i -> array_to_string(tok[i:i+2], ' ')))) AS gram
              FROM toks WHERE len(tok) >= 3),
            keep AS (SELECT gram FROM grams0 GROUP BY gram HAVING count(*) <= 50),
            grams AS (SELECT grams0.doc_id, grams0.gram
                      FROM grams0 JOIN keep USING (gram)),
            sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
            inter AS (SELECT g1.doc_id AS a, g2.doc_id AS b, count(*) AS i
                      FROM grams g1 JOIN grams g2 USING (gram)
                      WHERE g1.doc_id < g2.doc_id GROUP BY 1, 2)
            SELECT a, b, i::DOUBLE / (sa.sz + sb.sz - i) AS jaccard
            FROM inter JOIN sizes sa ON inter.a = sa.doc_id
                       JOIN sizes sb ON inter.b = sb.doc_id
            WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.5
        """)
def _q_ngram_jaccard(spark, sf_dir):
    """Near-dup: word-3-gram Jaccard pairs ≥ 0.5 with the df-cap guard
    (grams in > 50 docs excluded from both intersection and sizes — the
    hot-gram quadratic-blowup protection; the oracle applies the identical
    cap)."""
    from insights_spark.text.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), max_gram_df=50)


@query("kcore", headline=True, oracle=_kcore_sql(5))
def _q_kcore(spark, sf_dir):
    """k-core peel (text/links.py:kcore_peel): 6 synchronous rounds of
    degree-<5 removal (k = 5) over the symmetrized 3-out doc graph — the
    cohesion measure degree and triangles both miss; R-round recurrence
    bit-equal to the unrolled SQL."""
    from insights_spark.text.links import kcore_peel

    g = _doc_graph(_t(spark, sf_dir, "documents"))
    return kcore_peel(g, k=5).select(F.col("id").alias("doc_id"), "core_deg")


@query("normalize_text", headline=True, oracle="""
        WITH aug AS (SELECT doc_id,
                            coalesce(text, '') ||
                            CASE CAST(doc_id % 5 AS INT)
                              WHEN 0 THEN ' cafe' || chr(769)
                                          || ' du   monde '
                              WHEN 1 THEN chr(9) || 'tab' || chr(1)
                              ELSE '' END AS text
                     FROM documents),
        n AS (SELECT doc_id, text,
                     trim(regexp_replace(regexp_replace(
                            nfc_normalize(text),
                            '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]',
                            '', 'g'),
                          '[ \\t\\n\\r\\f\\v]+', ' ', 'g'),
                          ' ' || chr(9) || chr(10) || chr(13)
                              || chr(12) || chr(11)) AS norm_text
              FROM aug)
        SELECT doc_id, norm_text,
               CAST(norm_text <> text AS INT) AS changed,
               CAST(length(norm_text) AS BIGINT) AS n_chars
        FROM n
    """)
def _q_normalize_text(spark, sf_dir):
    """NFC + control + whitespace normalization (text/clean.py:
    normalize_text_nfc) with PLANTED decomposed-unicode / control-char
    suffixes on doc_id ≡ 0,1 (mod 5) so every branch is non-vacuous;
    both engines implement the same public Unicode NFC algorithm and
    the EXPLICIT ASCII whitespace class (Python \\s vs RE2 \\s diverge
    on NBSP — pinned deliberately)."""
    from insights_spark.text.clean import normalize_text_nfc

    aug = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(F.pmod(F.col("doc_id"), F.lit(5)) == 0,
               F.lit(" cafe\u0301 du   monde "))
        .when(F.pmod(F.col("doc_id"), F.lit(5)) == 1,
              F.concat(F.lit("\ttab"), F.expr("chr(1)")))
        .otherwise(F.lit("")),
    )
    d = _t(spark, sf_dir, "documents").select("doc_id", aug.alias("text"))
    return normalize_text_nfc(d)


@query("sorted_neighborhood", headline=True, oracle=f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS tok FROM documents),
        t0 AS (SELECT doc_id, array_to_string(tok[1:4], ' ') AS base
               FROM toks),
        titles AS (SELECT doc_id,
                          CASE WHEN doc_id % 5 = 0 AND len(base) >= 2
                               THEN base[1:1] || 'x' || base[3:]
                               ELSE base END AS title
                   FROM t0),
        r AS (SELECT doc_id, title,
                     CAST(row_number() OVER (ORDER BY title, doc_id)
                          AS BIGINT) AS rank
              FROM titles)
        SELECT a.doc_id AS a, b.doc_id AS b,
               CAST(b.rank - a.rank AS BIGINT) AS dist,
               CAST(levenshtein(a.title, b.title) AS BIGINT) AS lev
        FROM r a JOIN r b
          ON b.rank > a.rank AND b.rank <= a.rank + 4
    """)
def _q_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood blocking (text/fuzzy.py:
    sorted_neighborhood_pairs) over the fuzzy_join messy-title fixture:
    global sort rank on the two-phase scan, window-4 band pairing
    (n·window candidates, never quadratic), exact Levenshtein measure
    JVM-side on candidates only."""
    from insights_spark.text.fuzzy import sorted_neighborhood_pairs
    from insights_spark.text.quality import tokens

    base = F.array_join(F.slice(tokens(F.col("text")), 1, 4), " ")
    title = F.when(
        (F.pmod(F.col("doc_id"), F.lit(5)) == 0) & (F.length(base) >= 2),
        F.concat(
            F.substring(base, 1, 1), F.lit("x"), F.substring(base, 3, 1 << 20)
        ),
    ).otherwise(base)
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", title.alias("title")
    )
    return sorted_neighborhood_pairs(d, "title")


@query("hits", headline=True, oracle=_hits_sql())
def _q_hits(spark, sf_dir):
    """HITS hubs & authorities (text/links.py:hits_fixed_point): 4
    rounds of integer sum + L∞ div-normalization over the directed
    3-out doc graph — the directory-vs-content distinction PageRank's
    single score cannot make; bit-equal to the unrolled SQL recurrence."""
    from insights_spark.text.links import hits_fixed_point

    g = _doc_graph(_t(spark, sf_dir, "documents"))
    return hits_fixed_point(g).select(F.col("id").alias("doc_id"), "hub", "auth")


@query("communities", headline=True, oracle=(
    _lpa_sql()
    .replace("SELECT id, label", "SELECT id AS doc_id, label")
))
def _q_communities(spark, sf_dir):
    """Label-propagation communities (text/links.py:label_propagation):
    4 synchronous rounds over the symmetrized 3-out doc graph,
    (count DESC, label ASC) deterministic ties — the modular structure
    star-CC (one component here) cannot see."""
    from insights_spark.text.links import label_propagation

    g = _doc_graph(_t(spark, sf_dir, "documents"))
    return label_propagation(g).select(F.col("id").alias("doc_id"), "label")


@query(
    "kmeans",
    headline=True,
    oracle=_kmeans_sql(),
)
def _q_kmeans(spark, sf_dir):
    """Integer-exact Lloyd k-means (text/simsearch.py:kmeans_lloyd_int):
    k=8, 3 iterations over the 64-d embeddings — broadcast-centroid
    literals, JVM-codegen'd zip_with distance, decomposable (cluster,
    dim)-keyed update; bit-identical to the unrolled SQL recurrence."""
    from insights_spark.text.simsearch import kmeans_lloyd_int

    return kmeans_lloyd_int(_t(spark, sf_dir, "embeddings"))


@query(
    "prefix_jaccard",
    headline=True,
    sf1_skip="the 10×-copy sf1 derivation inflates EVERY "
    "gram's df ~10× (hottest prefix gram 10→94 docs), so prefix "
    "candidate volume grows ~quadratically by fixture construction "
    "(measured 430k→52.9M candidate pairs at 10× data) while the "
    "OUTPUT stays linear (256→328 pairs) — the rarest-first prefix "
    "lemma assumes rare grams STAY rare as the corpus grows, which "
    "real corpora satisfy and a key-offset copy fixture cannot; the "
    "probabilistic scale route at fixture-breaking densities is "
    "minhash_lsh_pairs",
    oracle=f"""
            WITH toks AS (SELECT doc_id, {_TOKENS} AS tok FROM documents),
            gsets AS (
              SELECT doc_id, list_distinct(list_transform(
                       range(1, len(tok) - 1),
                       i -> array_to_string(tok[i:i+2], ' '))) AS gs
              FROM toks WHERE len(tok) >= 3),
            grams AS (SELECT doc_id, unnest(gs) AS gram FROM gsets),
            inter AS (SELECT g1.doc_id AS a, g2.doc_id AS b,
                             CAST(count(*) AS BIGINT) AS i
                      FROM grams g1 JOIN grams g2 USING (gram)
                      WHERE g1.doc_id < g2.doc_id GROUP BY 1, 2),
            sizes AS (SELECT doc_id, len(gs) AS sz FROM gsets)
            SELECT a, b, i AS inter,
                   CAST(sa.sz + sb.sz - i AS BIGINT) AS uni,
                   CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
            FROM inter JOIN sizes sa ON inter.a = sa.doc_id
                       JOIN sizes sb ON inter.b = sb.doc_id
            WHERE i * 2 >= (sa.sz + sb.sz - i) * 1
        """,
)
def _q_prefix_jaccard(spark, sf_dir):
    """Exact Jaccard similarity join via prefix filtering
    (text/dedup.py:prefix_jaccard_pairs): candidates only from each
    doc's rarest grams under the global (df, gram) order, integer
    threshold gate inter·2 ≥ uni·1. The oracle is the INDEPENDENT
    brute-force all-pairs join — its agreement empirically proves the
    prefix lemma's completeness on real data."""
    from insights_spark.text.dedup import prefix_jaccard_pairs

    return prefix_jaccard_pairs(_t(spark, sf_dir, "documents"))


_BM25_SQL = f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS tok FROM documents
                      WHERE text IS NOT NULL),
        dl AS (SELECT doc_id, CAST(len(tok) AS BIGINT) AS dl FROM toks),
        stats AS (SELECT CAST(sum(dl) AS BIGINT) / count(*) AS avgdl,
                         CAST(count(*) AS BIGINT) AS n_docs FROM dl),
        dterms AS (SELECT doc_id, unnest(list_distinct(tok)) AS term FROM toks),
        alldf AS (SELECT term, count(*) AS df FROM dterms GROUP BY 1),
        qterms AS (SELECT term FROM alldf WHERE df <= 50
                   ORDER BY df DESC, term ASC LIMIT 8),
        tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
               FROM (SELECT doc_id, unnest(tok) AS term FROM toks)
               JOIN qterms USING (term) GROUP BY 1, 2),
        dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        w AS (SELECT t.doc_id,
                     ((n_docs - d.df + 0.5::DOUBLE) / (d.df + 0.5::DOUBLE))
                     * ((t.tf * (1.2::DOUBLE + 1.0::DOUBLE)) /
                        (t.tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
                           + 0.75::DOUBLE * (dl.dl / stats.avgdl)))) AS w
              FROM tf t JOIN dfs d USING (term)
                   JOIN dl ON t.doc_id = dl.doc_id, stats)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
               list_reduce(list_prepend(0.0::DOUBLE, list_sort(list(w))),
                           (a, c) -> a + c) AS score
        FROM w GROUP BY doc_id
    """


@query("bm25", headline=True, oracle=_BM25_SQL)
def _q_bm25(spark, sf_dir):
    """BM25 ranked retrieval (text/rank.py) with the rational (log-free)
    Robertson idf and a sorted-fold score sum, so the oracle reproduces
    every double bit-for-bit. The query is the deterministic df-band pick
    (8 heaviest terms with df ≤ 50) — self-contained, no literals the
    oracle can't derive."""
    from insights_spark.text.rank import bm25_scores, query_terms_by_df

    docs = _t(spark, sf_dir, "documents")
    return bm25_scores(docs, query_terms_by_df(docs))


@query("hybrid_search", headline=True, oracle=f"""
        WITH bm AS ({_BM25_SQL}),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        cos AS (SELECT vec_id AS doc_id,
                       list_dot_product(embedding::DOUBLE[], q.qv::DOUBLE[])
                       / (sqrt(list_dot_product(embedding::DOUBLE[],
                                                embedding::DOUBLE[]))
                          * sqrt(list_dot_product(q.qv::DOUBLE[],
                                                  q.qv::DOUBLE[])))
                         AS score
                FROM embeddings, q),
        ra AS (SELECT doc_id,
                      CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                           AS BIGINT) AS rank_a
               FROM bm),
        rb AS (SELECT doc_id,
                      CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                           AS BIGINT) AS rank_b
               FROM cos)
        SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id, rank_a, rank_b,
               CAST(coalesce(1000000000 // (60 + rank_a), 0)
                    + coalesce(1000000000 // (60 + rank_b), 0) AS BIGINT)
                 AS rrf
        FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
    """)
def _q_hybrid_search(spark, sf_dir):
    """Hybrid search via reciprocal-rank fusion (text/rank.py:rrf_fuse,
    Cormack et al. SIGIR'09): BM25 lexical ranking ⊕ embedding-cosine
    semantic ranking (query = vec_id 0, sequential-fold dot), fused on
    RANKS with integer floor(scale/(k+rank)) — score-scale-free; both
    global ranks ride the two-phase prefix scan."""
    from insights_spark.text.rank import (
        bm25_scores,
        query_terms_by_df,
        rrf_fuse,
    )
    from insights_spark.text.simsearch import dot, norm

    docs = _t(spark, sf_dir, "documents")
    bm = bm25_scores(docs, query_terms_by_df(docs))
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    cos = emb.crossJoin(F.broadcast(qv)).select(
        F.col("vec_id").alias("doc_id"),
        (dot(F.col("embedding"), F.col("qv"))
         / (norm(F.col("embedding")) * norm(F.col("qv"))))
        .alias("score"),
    )
    return rrf_fuse(bm.select("doc_id", "score"), cos)


@query("containment", headline=True, oracle=f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS tok FROM documents),
        grams0 AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, len(tok) - 1),
                   i -> array_to_string(tok[i:i+2], ' ')))) AS gram
          FROM toks WHERE len(tok) >= 3),
        keep AS (SELECT gram FROM grams0 GROUP BY gram HAVING count(*) <= 50),
        grams AS (SELECT grams0.doc_id, grams0.gram
                  FROM grams0 JOIN keep USING (gram)),
        sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
        inter AS (SELECT g1.doc_id AS a, g2.doc_id AS b, count(*) AS i
                  FROM grams g1 JOIN grams g2 USING (gram)
                  WHERE g1.doc_id != g2.doc_id GROUP BY 1, 2)
        SELECT a, b, i::DOUBLE / sa.sz AS containment
        FROM inter JOIN sizes sa ON inter.a = sa.doc_id
        WHERE i::DOUBLE / sa.sz >= 0.6
    """)
def _q_containment(spark, sf_dir):
    """Directed word-3-gram containment pairs ≥ 0.6 (quote-inclusion
    near-dup — text/dedup.py:containment_pairs): the pattern Jaccard
    structurally misses (short doc pasted inside a long one). Same gram
    machinery and df-cap as ngram_jaccard; denominator is |grams(a)|
    alone and BOTH directions are kept."""
    from insights_spark.text.dedup import containment_pairs

    return containment_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.6, max_gram_df=50
    )


@query("url_dedup", headline=True, oracle=r"""
        WITH u AS (
          SELECT doc_id, CAST(doc_id // 3 AS VARCHAR) AS page, doc_id % 3 AS v,
                 make_timestamp((1609459200 + doc_id * 60) * 1000000) AS warc_ts
          FROM documents),
        raw AS (
          SELECT doc_id, warc_ts,
                 CASE v
                   WHEN 0 THEN 'https://www.example.com/articles/' || page
                               || '?id=' || page
                   WHEN 1 THEN 'HTTPS://www.Example.COM:443/articles/' || page
                               || '/?utm_source=feed&id=' || page || '#frag'
                   ELSE 'https://www.example.com/articles/' || page
                        || '?utm_campaign=x&id=' || page
                 END AS url
          FROM u),
        parts AS (
          SELECT doc_id, warc_ts, url,
                 lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1))
                   AS scheme,
                 lower(regexp_extract(url, '^[^:]+://([^/?#]*)', 1)) AS hostport,
                 regexp_replace(regexp_extract(url,
                   '^[^:]+://[^/?#]*([^?#]*)', 1), '/+$', '') AS path0,
                 regexp_extract(url, '\?([^#]*)', 1) AS q
          FROM raw),
        canon AS (
          SELECT doc_id, warc_ts, url,
                 scheme || '://' ||
                 CASE WHEN scheme = 'https'
                      THEN regexp_replace(hostport, ':443$', '')
                      WHEN scheme = 'http'
                      THEN regexp_replace(hostport, ':80$', '')
                      ELSE hostport END ||
                 CASE WHEN path0 = '' THEN '/' ELSE path0 END ||
                 CASE WHEN qq = '' THEN '' ELSE '?' || qq END AS canonical_url
          FROM (SELECT *, array_to_string(list_sort(list_filter(
                  string_split(q, '&'),
                  p -> p != '' AND NOT regexp_matches(p,
                    '^(utm_[^=]*|gclid|fbclid|ref)(=|$)'))), '&') AS qq
                FROM parts))
        SELECT canonical_url, (pick).id AS kept_id, (pick).ts AS last_ts,
               n_variants, n_urls
        FROM (SELECT canonical_url, max({'ts': warc_ts, 'id': doc_id}) AS pick,
                     CAST(count(*) AS BIGINT) AS n_variants,
                     CAST(count(DISTINCT url) AS BIGINT) AS n_urls
              FROM canon GROUP BY 1)
    """)
def _q_url_dedup(spark, sf_dir):
    """URL canonicalization + canonical-key latest-wins dedup
    (text/urls.py). The corpus tables carry no url column, so the query
    PLANTS deterministic messy spellings (same precedent as pii_scrub's
    planted PII — the fixture must be non-vacuous): three docs share each
    logical page, decorated per variant with an uppercase host + default
    port + trailing slash + fragment, or tracking params in shuffled
    order. All three spellings canonicalize to one key; warc_ts is a
    deterministic fetch time (doc_id-minute offsets)."""
    from insights_spark.text.urls import url_dedup

    page = F.expr("doc_id DIV 3").cast("string")
    variant = F.pmod(F.col("doc_id"), F.lit(3))
    url = (
        F.when(
            variant == 0,
            F.concat(
                F.lit("https://www.example.com/articles/"), page,
                F.lit("?id="), page,
            ),
        )
        .when(
            variant == 1,
            F.concat(
                F.lit("HTTPS://www.Example.COM:443/articles/"), page,
                F.lit("/?utm_source=feed&id="), page, F.lit("#frag"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://www.example.com/articles/"), page,
                F.lit("?utm_campaign=x&id="), page,
            )
        )
    )
    pages = _t(spark, sf_dir, "documents").select(
        F.col("doc_id"),
        url.alias("url"),
        F.timestamp_seconds(
            F.lit(1609459200) + F.col("doc_id") * F.lit(60)
        ).alias("warc_ts"),
    )
    return url_dedup(pages)


@query("passage_dedup", headline=True, oracle=f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS tok FROM documents),
        inst AS (SELECT doc_id, i AS idx,
                        array_to_string(tok[i*10+1 : i*10+10], ' ') AS chunk,
                        least(10, len(tok) - i*10) AS clen
                 FROM toks, unnest(range(0, (len(tok) + 9) // 10)) AS u(i)
                 WHERE len(tok) > 0),
        firsts AS (SELECT chunk, min({{'d': doc_id, 'i': idx}}) AS f
                   FROM inst GROUP BY 1),
        fl AS (SELECT i.doc_id, i.clen,
                      ((f).d = i.doc_id AND (f).i = i.idx) AS kept
               FROM inst i JOIN firsts USING (chunk))
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN kept THEN clen ELSE 0 END) AS BIGINT)
                 AS tokens_kept,
               CAST(sum(CASE WHEN kept THEN 0 ELSE clen END) AS BIGINT)
                 AS tokens_removed
        FROM fl GROUP BY doc_id
    """)
def _q_passage_dedup(spark, sf_dir):
    """Sub-document exact dedup (text/dedup.py:passage_dedup): 10-token
    chunks, keep-first by global (doc_id, position) order, per-doc
    kept/removed token accounting — the repeated-passage rule whole-doc
    dedup misses."""
    from insights_spark.text.dedup import passage_dedup

    return passage_dedup(_t(spark, sf_dir, "documents"))


@query("heavy_hitters", headline=True, oracle=f"""
        WITH t AS (SELECT unnest({_TOKENS}) AS term FROM documents
                   WHERE text IS NOT NULL)
        SELECT term, CAST(count(*) AS BIGINT) AS n
        FROM t GROUP BY 1
        HAVING count(*) * 32 > (SELECT count(*) FROM t)
    """)
def _q_heavy_hitters(spark, sf_dir):
    """Frequent terms via Misra–Gries candidates + exact recount
    (text/freq.py) — the third mergeable sketch in the family (HLL,
    KLL-style, MG), in the same sketch-bounds-work / exact-answers shape:
    output is provably the exact heavy-hitter set. k = 32 sits on a real
    selection boundary for this corpus (29 of 31 terms qualify at
    sf0.01; 'the' and the planted 'dup' marker do not)."""
    from insights_spark.text.freq import heavy_hitters

    return heavy_hitters(_t(spark, sf_dir, "documents"))


@query("novelty", headline=True, oracle=f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS tok FROM documents),
        grams AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, len(tok) - 1),
                   i -> array_to_string(tok[i:i+2], ' ')))) AS gram
          FROM toks WHERE len(tok) >= 3),
        dfs AS (SELECT gram, count(*) AS df FROM grams GROUP BY 1)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_novel,
               CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 / CAST(count(*) AS BIGINT) AS novelty
        FROM grams JOIN dfs USING (gram)
        GROUP BY doc_id
    """)
def _q_novelty(spark, sf_dir):
    """Per-doc trigram novelty (text/freq.py): fraction of the doc's
    distinct 3-grams with corpus df = 1 — near 0 for boilerplate/template
    spam, near 1 for unique prose; one gram pass + one gram-keyed
    shuffle, division is one IEEE op on exact integers."""
    from insights_spark.text.freq import novelty_scores

    return novelty_scores(_t(spark, sf_dir, "documents"))


_gaz_vals = ", ".join(
    f"('{b['name_en'].lower()}', '{b['name_en']}')"
    for b in _synth.gen_boundaries()
)


@query("doc_geotag", headline=True, oracle=f"""
        WITH aug AS (SELECT doc_id,
                            coalesce(text, '') ||
                            CASE CAST(doc_id % 4 AS INT)
                              WHEN 0 THEN ' kenya'
                              WHEN 1 THEN ' fiji'
                              WHEN 2 THEN ' somalia fiji'
                              ELSE '' END AS text
                     FROM documents),
        toks AS (SELECT doc_id, {_TOKENS} AS tok FROM aug),
        gaz AS (SELECT * FROM (VALUES {_gaz_vals}) AS t(tok, country)),
        m AS (SELECT doc_id, country
              FROM (SELECT doc_id, unnest(tok) AS tk FROM toks)
              JOIN gaz ON tk = gaz.tok)
        SELECT doc_id, min(country) AS country,
               CAST(count(*) AS BIGINT) AS n_mentions
        FROM m GROUP BY doc_id
    """)
def _q_doc_geotag(spark, sf_dir):
    """Gazetteer geotagging (text/geotag.py) — the cross-domain join that
    ties the corpus to the spatial stack: place-name tokens matched
    against the synth country gazetteer (broadcast), MIN-country tie
    rule. Mentions are PLANTED per doc_id class (pii_scrub precedent):
    ¼ kenya, ¼ fiji, ¼ 'somalia fiji' (exercises the tie rule), ¼ none."""
    from insights_spark import synth
    from insights_spark.text.geotag import geotag_documents

    mention = (
        F.when(F.pmod(F.col("doc_id"), F.lit(4)) == 0, F.lit(" kenya"))
        .when(F.pmod(F.col("doc_id"), F.lit(4)) == 1, F.lit(" fiji"))
        .when(F.pmod(F.col("doc_id"), F.lit(4)) == 2, F.lit(" somalia fiji"))
        .otherwise(F.lit(""))
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.coalesce(F.col("text"), F.lit("")), mention).alias("text"),
    )
    gaz = local_df(
        spark,
        [(b["name_en"].lower(), b["name_en"]) for b in synth.gen_boundaries()],
        "tok string, country string",
    )
    return geotag_documents(docs, gaz)


@query("top_terms_per_source", headline=True, oracle=f"""
        WITH counts AS (
          SELECT source, term, CAST(count(*) AS BIGINT) AS n
          FROM (SELECT source, unnest({_TOKENS}) AS term FROM documents)
          GROUP BY 1, 2)
        SELECT source, term, n,
               CAST(rank AS INT) AS rank
        FROM (SELECT *, row_number() OVER (
                 PARTITION BY source ORDER BY n DESC, term ASC) AS rank
              FROM counts)
        WHERE rank <= 5
    """)
def _q_top_terms_per_source(spark, sf_dir):
    """Per-source top-5 terms (text/freq.py:top_terms_per_source): the
    per-GROUP top-k shape, vs term_freq's global TakeOrderedAndProject —
    one map-side-combined rollup + one source-partitioned window."""
    from insights_spark.text.freq import top_terms_per_source

    return top_terms_per_source(_t(spark, sf_dir, "documents"))


@query("kn_continuation", headline=True, oracle=f"""
        WITH toks AS (
          SELECT {_TOKENS} AS ts FROM documents WHERE text IS NOT NULL),
        uni AS (
          SELECT w AS token, CAST(count(*) AS BIGINT) AS freq
          FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY 1),
        big AS (
          SELECT ts[i] AS w1, ts[i + 1] AS w2
          FROM toks, unnest(generate_series(1, len(ts) - 1)) AS u(i)
          WHERE len(ts) >= 2),
        pairs AS (SELECT w1, w2 FROM big GROUP BY 1, 2),
        lft AS (SELECT w2 AS token, CAST(count(*) AS BIGINT) AS n_left
                FROM pairs GROUP BY 1),
        rgt AS (SELECT w1 AS token, CAST(count(*) AS BIGINT) AS n_right
                FROM pairs GROUP BY 1)
        SELECT uni.token, uni.freq,
               CAST(coalesce(lft.n_left, 0) AS BIGINT) AS n_left,
               CAST(coalesce(rgt.n_right, 0) AS BIGINT) AS n_right
        FROM uni LEFT JOIN lft USING (token) LEFT JOIN rgt USING (token)
    """)
def _q_kn_continuation(spark, sf_dir):
    """Kneser-Ney continuation counts per token (text/freq.py): freq +
    distinct predecessors N1+(•w) + distinct successors N1+(w•), from
    SEQUENTIAL bigrams with multiplicity (LM counts, not the dedup
    family's distinct grams). Continuation counts are count(*) scans of
    the distinct-pair rollup — no countDistinct shuffle anywhere."""
    from insights_spark.text.freq import kn_continuation

    return kn_continuation(_t(spark, sf_dir, "documents"))


@query("freq_of_freqs", headline=True, oracle=f"""
        WITH uni AS (
          SELECT w AS token, CAST(count(*) AS BIGINT) AS freq
          FROM (SELECT unnest({_TOKENS}) AS w FROM documents
                WHERE text IS NOT NULL) GROUP BY 1)
        SELECT freq, CAST(count(*) AS BIGINT) AS n_types
        FROM uni GROUP BY 1
    """)
def _q_freq_of_freqs(spark, sf_dir):
    """Good-Turing N_r table (text/freq.py): distinct token types per
    occurrence count — the smoothing companion to kn_continuation; two
    decomposable shuffles, output bounded by distinct frequency values."""
    from insights_spark.text.freq import freq_of_freqs

    return freq_of_freqs(_t(spark, sf_dir, "documents"))


@query("token_lorenz", headline=True, oracle=f"""
        WITH t AS (SELECT doc_id, CAST(len({_TOKENS}) AS BIGINT) AS ntok
                   FROM documents),
        f AS (SELECT * FROM t WHERE ntok > 0),
        r AS (SELECT doc_id, ntok,
                     CAST(sum(ntok) OVER w AS BIGINT) AS tokens_cum,
                     row_number() OVER w AS rank
              FROM f WINDOW w AS (ORDER BY ntok DESC, doc_id ASC)),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(ntok) AS BIGINT) AS tok FROM f)
        SELECT CAST((rank - 1) * 10 // n + 1 AS INT) AS bucket,
               CAST(max(rank) AS BIGINT) AS docs_cum,
               max(tokens_cum) AS tokens_cum,
               CAST(max(tokens_cum) AS DOUBLE) / CAST(max(tok) AS DOUBLE)
                 AS token_share
        FROM r, tot GROUP BY 1
    """)
def _q_token_lorenz(spark, sf_dir):
    """Corpus concentration deciles (text/freq.py:token_share_curve):
    both global prefix sums (token cum + rank) ride ONE
    global_cumsum_multi scan — never an unpartitioned window."""
    from insights_spark.text.freq import token_share_curve

    return token_share_curve(_t(spark, sf_dir, "documents"))


@query("ann_topk", oracle="""
            SELECT id, neighbor_id, score, CAST(rank AS INT) AS rank FROM (
              SELECT a.vec_id AS id, b.vec_id AS neighbor_id,
                     list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                     / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
                       AS score,
                     row_number() OVER (PARTITION BY a.vec_id ORDER BY
                       list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                       / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
                       DESC, b.vec_id ASC) AS rank
              FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id)
            WHERE rank <= 5
        """)
def _q_ann_topk(spark, sf_dir):
    """Similarity search: exact cosine top-5 (sequential-fold dot product)."""
    from insights_spark.text.simsearch import cosine_topk

    return cosine_topk(_t(spark, sf_dir, "embeddings"))


@query(
    "cos_near_dups",
    headline=True,
    sf1_skip="documented O(n²) exact baseline; the scale route "
    "is cos_near_dups_lsh",
    oracle="""
            SELECT a, b, c AS cosine FROM (
              SELECT a.vec_id AS a, b.vec_id AS b,
                     list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                     / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
                       AS c
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
            WHERE c >= 0.4
        """,
)
def _q_cos_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs ≥ 0.4 (exact, sequential-fold dot
    product = DuckDB list_dot_product parity). The LSH-bucketed candidate
    path (embedding_lsh_candidates) is the scale route, recall-tested in
    pytest against this exact baseline."""
    from insights_spark.text.simsearch import embedding_near_dups

    return embedding_near_dups(_t(spark, sf_dir, "embeddings"))


@query(
    "cos_near_dups_lsh",
    sf1_skip="gate geometry (6×6-bit bands) is "
    "recall-calibrated on structureless RANDOM vectors, where candidate "
    "volume is ∝0.13·n² by construction; production scales bits/band "
    "with log n — timed here as cos_near_dups_lsh_g10 (10-bit bands)",
    oracle="""
            WITH s AS (
              SELECT vec_id, embedding FROM embeddings
              WHERE mod(mod(vec_id, 1048576) * 1000003 + 99, 1048576)
                    * (SELECT count(*) FROM embeddings) < 256 * 1048576),
            tp AS (
              SELECT DISTINCT least(s.vec_id, e.vec_id) AS a,
                              greatest(s.vec_id, e.vec_id) AS b
              FROM s JOIN embeddings e ON s.vec_id != e.vec_id
              WHERE list_dot_product(s.embedding::DOUBLE[], e.embedding::DOUBLE[])
                    / (sqrt(list_dot_product(s.embedding::DOUBLE[], s.embedding::DOUBLE[]))
                       * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
                    >= 0.4)
            SELECT CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_vectors,
                   CAST((SELECT count(*) FROM tp) AS BIGINT) AS n_true_pairs,
                   TRUE AS recall_ok, TRUE AS sub_quadratic_ok
        """,
)
def _q_cos_near_dups_lsh(spark, sf_dir):
    """Embedding near-dups via the 100 TB SCALE route — RH-LSH candidates →
    exact-cosine verify — with built-in recall + sub-quadratic gates (the
    ann_ivf shape). A fixed ~256-vector hash-threshold sample's true pairs
    (exact cosine ≥ 0.4 against ALL vectors — O(256·n), SQL-reproducible)
    anchor recall; geometry 6 bands × 6 bits calibrated on the synthetic
    RANDOM embeddings (the LSH worst case — no cluster structure): measured
    recall 0.30-0.37, candidate fraction 0.125-0.131. Gates: recall ≥ 0.25
    AND candidates ≤ 0.18·allpairs — a similarity-blind bucketing cannot
    pass both (random collisions give recall ≈ candidate fraction ≤ 0.18 <
    0.25). Pair-level exactness of the verify step is oracle-checked by
    cos_near_dups; this query makes the SCALE path driver-visible."""
    from insights_spark.text.simsearch import (
        dot, embedding_lsh_candidates, embedding_near_dups_lsh, norm)

    emb = _t(spark, sf_dir, "embeddings")
    par = spark.sparkContext.defaultParallelism
    cand = pin(embedding_lsh_candidates(emb, n_bits=36, bands=6))
    pairs = pin(embedding_near_dups_lsh(
        emb, n_bits=36, bands=6, candidates=cand
    ))

    m_mod = 1 << 20
    n_row = emb.agg(F.count(F.lit(1)).alias("_n"))
    sample = (
        emb.crossJoin(F.broadcast(n_row))
        .filter(
            F.pmod(F.pmod(F.col("vec_id"), F.lit(m_mod)) * 1000003 + 99,
                   F.lit(m_mod)) * F.col("_n")
            < F.lit(256 * m_mod)
        )
        .drop("_n")
    )
    allv = emb.select(
        F.col("vec_id").alias("_oid"), F.col("embedding").alias("_ov")
    ).withColumn("_on", norm(F.col("_ov")))
    sv = (
        sample.select(F.col("vec_id").alias("_sid"),
                      F.col("embedding").alias("_sv"))
        .repartition(par)
        .withColumn("_sn", norm(F.col("_sv")))
    )
    cosx = dot(F.col("_sv"), F.col("_ov")) / (F.col("_sn") * F.col("_on"))
    truep = (
        sv.join(F.broadcast(allv), F.col("_sid") != F.col("_oid"))
        .withColumn("_c", cosx)
        .filter(F.col("_c") >= 0.4)
        .select(F.least("_sid", "_oid").alias("a"),
                F.greatest("_sid", "_oid").alias("b"))
        .distinct()
    )
    hit = truep.join(
        pairs.select("a", "b").withColumn("_h", F.lit(1)), ["a", "b"], "left"
    )
    tstats = hit.agg(
        F.count(F.lit(1)).cast("long").alias("n_true_pairs"),
        F.sum(F.coalesce("_h", F.lit(0))).alias("_nh"),
    )
    cstats = cand.agg(F.count(F.lit(1)).alias("_nc"))
    return (
        n_row.crossJoin(tstats).crossJoin(cstats)
        .select(
            F.col("_n").cast("long").alias("n_vectors"),
            "n_true_pairs",
            F.when(F.col("n_true_pairs") == 0, F.lit(True))
            .otherwise(F.col("_nh") / F.col("n_true_pairs") >= 0.25)
            .alias("recall_ok"),
            (F.col("_nc")
             <= 0.18 * F.col("_n") * (F.col("_n") - 1) / 2).alias("sub_quadratic_ok"),
        )
    )


@query("lang_quality_median", oracle=f"""
            WITH scored AS (SELECT doc_id, {lang_scores} FROM documents),
            langp AS (SELECT doc_id,
                   CASE WHEN greatest(r_en, r_de, r_fr, r_sw) <= 0 THEN NULL
                        WHEN r_de >= r_en AND r_de >= r_fr AND r_de >= r_sw THEN 'de'
                        WHEN r_en >= r_fr AND r_en >= r_sw THEN 'en'
                        WHEN r_fr >= r_sw THEN 'fr'
                        ELSE 'sw' END AS lang_pred
                   FROM scored),
            t AS (SELECT l.lang_pred, len({_TOKENS}) AS n_tokens
                  FROM documents JOIN langp l USING (doc_id))
            SELECT lang_pred, CAST(count(*) AS BIGINT) AS docs,
                   quantile_cont(n_tokens, 0.5) AS p50_tokens,
                   quantile_cont(n_tokens, 0.9) AS p90_tokens
            FROM t GROUP BY lang_pred
        """)
def _q_lang_quality_median(spark, sf_dir):
    """Exact per-language percentile rollup (median + p90 token counts) —
    the quality-cutoff calibration shape. Spark's exact `percentile`
    (sort-based, linear interpolation) == DuckDB `quantile_cont`; exact,
    not approx_percentile, so the oracle can hash it."""
    from insights_spark.text.quality import lang_id, token_count

    d = _t(spark, sf_dir, "documents")
    t = lang_id(d).select(
        "lang_pred", token_count(F.col("text")).alias("n_tokens")
    )
    return t.groupBy("lang_pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs"),
        F.expr("percentile(n_tokens, 0.5)").alias("p50_tokens"),
        F.expr("percentile(n_tokens, 0.9)").alias("p90_tokens"),
    )


@query("term_freq", oracle=f"""
            WITH t AS (SELECT doc_id, unnest(list_distinct({_TOKENS})) AS term
                       FROM documents),
            c AS (SELECT term, CAST(count(*) AS BIGINT) AS docs
                  FROM t GROUP BY term)
            SELECT CAST(row_number() OVER (ORDER BY docs DESC, term ASC) AS INT)
                     AS rank, term, docs
            FROM c
            QUALIFY rank <= 25
        """)
def _q_term_freq(spark, sf_dir):
    """Corpus vocabulary rollup: top-25 tokens by document frequency
    (distinct docs containing the token), ties by token asc — the
    vocabulary-building shape: explode → distinct per doc → count →
    deterministic top-k. Partial aggregation runs map-side; the top-k is a
    TakeOrderedAndProject over the aggregated term table (per-partition
    local top-25, driver merge — at web scale the vocabulary is 10⁸ terms
    and a global window would put them all on one task; round-2 verdict #3),
    with rank attached by a window over the 25-row take."""
    from pyspark.sql.window import Window

    from insights_spark.text.quality import tokens

    d = _t(spark, sf_dir, "documents")
    df_counts = (
        d.select("doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("docs"))
    )
    top = df_counts.orderBy(F.desc("docs"), F.asc("term")).limit(25)
    w = Window.orderBy(F.desc("docs"), F.asc("term"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "term", "docs"
    )


_CLEAN_CORPUS_SQL = f"""
            WITH scored AS (SELECT doc_id, {lang_scores} FROM documents),
            langp AS (SELECT doc_id,
                   CASE WHEN greatest(r_en, r_de, r_fr, r_sw) <= 0 THEN NULL
                        WHEN r_de >= r_en AND r_de >= r_fr AND r_de >= r_sw THEN 'de'
                        WHEN r_en >= r_fr AND r_en >= r_sw THEN 'en'
                        WHEN r_fr >= r_sw THEN 'fr'
                        ELSE 'sw' END AS lang_pred
                   FROM scored),
            toks AS (SELECT doc_id, text, {_TOKENS} AS tok FROM documents),
            gate AS (SELECT t.doc_id, t.text, t.tok,
                            CAST(len(t.tok) AS INT) AS n_tokens, l.lang_pred
                     FROM toks t JOIN langp l USING (doc_id)
                     WHERE len(t.tok) >= 5
                       AND (CASE WHEN len(t.tok) > 0 THEN
                              len(list_distinct(t.tok))::DOUBLE / len(t.tok)
                            ELSE 0.0 END) >= 0.2
                       AND l.lang_pred IN ('en', 'de', 'fr')),
            reps AS (SELECT min(doc_id) AS doc_id
                     FROM (SELECT doc_id,
                                  regexp_replace(lower(text), '\\s+', ' ', 'g') AS norm
                           FROM gate)
                     GROUP BY norm),
            surv AS (SELECT g.* FROM gate g JOIN reps USING (doc_id)),
            grams0 AS (
              SELECT doc_id, unnest(list_distinct(list_transform(
                       range(1, len(tok) - 1),
                       i -> array_to_string(tok[i:i+2], ' ')))) AS gram
              FROM surv WHERE len(tok) >= 3),
            keep AS (SELECT gram FROM grams0 GROUP BY gram HAVING count(*) <= 50),
            grams AS (SELECT grams0.doc_id, grams0.gram
                      FROM grams0 JOIN keep USING (gram)),
            sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
            inter AS (SELECT g1.doc_id AS a, g2.doc_id AS b, count(*) AS i
                      FROM grams g1 JOIN grams g2 USING (gram)
                      WHERE g1.doc_id < g2.doc_id GROUP BY 1, 2),
            dropped AS (SELECT DISTINCT inter.b AS doc_id
                        FROM inter JOIN sizes sa ON inter.a = sa.doc_id
                                   JOIN sizes sb ON inter.b = sb.doc_id
                        WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.5)
            SELECT doc_id, lang_pred, n_tokens FROM surv
            WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        """


@query("clean_corpus", headline=True, oracle=_CLEAN_CORPUS_SQL)
def _q_clean_corpus(spark, sf_dir):
    """The composed C4-style cleaning chain as ONE query: quality gates →
    lang filter → exact dedup → df-capped trigram-Jaccard near-dup drop.
    Every stage reuses an oracle-checked primitive; the composition gets
    its own oracle (same CTE chain in SQL)."""
    from insights_spark.text.clean import clean_corpus

    return clean_corpus(_t(spark, sf_dir, "documents"))


# the full preparation pipeline composes the clean_corpus oracle with
# the cap/split arithmetic (nested WITH in a FROM subquery)
@query("prepare_corpus", headline=True, oracle=f"""
        WITH base AS (SELECT * FROM ({_CLEAN_CORPUS_SQL})),
        src AS (SELECT base.*, d.source
                FROM base JOIN documents d USING (doc_id)),
        capped AS (SELECT * FROM (
            SELECT src.*, row_number() OVER (
                PARTITION BY source
                ORDER BY mod(doc_id * 2654435761 + 17, 2147483648) ASC,
                         doc_id ASC) AS rk
            FROM src) WHERE rk <= 15),
        sp AS (SELECT *, CASE WHEN mod(doc_id * 1000003 + 7, 1000) < 100
                              THEN 'test' ELSE 'train' END AS split
               FROM capped)
        SELECT split, lang_pred, CAST(count(*) AS BIGINT) AS docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        FROM sp GROUP BY split, lang_pred
    """)
def _q_prepare_corpus(spark, sf_dir):
    """THE end-to-end training-data preparation pipeline as ONE lazy plan:
    C4-style clean (gates → lang → exact dedup → capped near-dup drop) →
    per-domain cap (crawl balance) → deterministic train/test split →
    per-(split, language) corpus accounting. Every stage is an
    independently-oracle-checked operator; the composition gets its own
    chained-CTE oracle. This is the query a user runs before tokenizing a
    crawl snapshot."""
    from insights_spark.text.clean import (
        clean_corpus, per_source_cap, train_test_split,
    )

    docs = _t(spark, sf_dir, "documents")
    cleaned = clean_corpus(docs)
    with_src = cleaned.join(docs.select("doc_id", "source"), "doc_id")
    capped = per_source_cap(with_src, 15)
    split = train_test_split(capped)
    return split.groupBy("split", "lang_pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


@query("pack_sequences", headline=True, oracle=f"""
        WITH t AS (SELECT doc_id, CAST(len({_TOKENS}) AS BIGINT) AS n
                   FROM documents WHERE len({_TOKENS}) > 0),
        c AS (SELECT doc_id, n,
                     CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                          - n AS BIGINT) AS strt
              FROM t),
        s AS (SELECT doc_id, n, strt,
                     unnest(generate_series(CAST(strt // 512 AS BIGINT),
                                            CAST((strt + n - 1) // 512 AS BIGINT)))
                       AS seq_id
              FROM c)
        SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
               CAST(greatest(seq_id * 512, strt) - strt AS BIGINT) AS tok_start,
               CAST(least((seq_id + 1) * 512, strt + n)
                    - greatest(seq_id * 512, strt) AS BIGINT) AS n_toks
        FROM s
    """)
def _q_pack_sequences(spark, sf_dir):
    """Sequence packing for pretraining: docs → fixed-512-token window
    assignments via a DISTRIBUTED prefix sum (range-partition → local
    cumsum → bounded partition-totals collect → broadcast offsets) — the
    global `sum OVER (ORDER BY)` the oracle runs would be a one-task
    shuffle at corpus scale (the banned top-k shape)."""
    from insights_spark.text.pack import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), seq_len=512)


@query("train_split", oracle="""
        SELECT doc_id,
               CASE WHEN mod(doc_id * 1000003 + 7, 1000) < 100
                    THEN 'test' ELSE 'train' END AS split
        FROM documents
    """)
def _q_train_split(spark, sf_dir):
    """Deterministic content-stable train/test split: multiplicative-hash
    bucket on doc_id (never row position / RNG), so assignment survives
    repartitioning and incremental appends. Map-only stamp, no shuffle."""
    from insights_spark.text.clean import train_test_split

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return train_test_split(d).select("doc_id", "split")


@query("inverted_index", headline=True, oracle=f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS tok FROM documents),
        t AS (SELECT doc_id,
                     unnest(list_distinct(list_transform(
                       range(1, len(tok)), i -> tok[i] || ' ' || tok[i+1]
                     ))) AS term
              FROM toks WHERE len(tok) >= 2),
        g AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
                     array_to_string(list_sort(list(doc_id)), ',') AS posting_csv
              FROM t GROUP BY term)
        SELECT term, df, posting_csv FROM g WHERE df BETWEEN 2 AND 50
    """)
def _q_inverted_index(spark, sf_dir):
    """PHRASE inverted index (word bigrams, df bounds [2, 50]): explode
    distinct bigrams per doc → ONE term-keyed shuffle → sorted posting
    list + df from the same aggregation — the benchmark-contamination
    lookup structure. The max_df cut is the stop-gram skew-bomb defuser (a
    hot phrase row would otherwise hold the whole corpus); postings are a
    comma-joined string so both engines hash identically. (Bigrams, not
    unigrams, because the synthetic corpus has a 31-word vocabulary where
    every unigram is a stop word — dfs ~doc count.)"""
    from insights_spark.text.index import inverted_index

    return inverted_index(
        _t(spark, sf_dir, "documents"), min_df=2, max_df=50, ngram=2
    )


@query("source_cap", headline=True, oracle="""
        SELECT doc_id, source FROM (
          SELECT doc_id, source,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY mod(doc_id * 2654435761 + 17, 2147483648) ASC,
                            doc_id ASC) AS rk
          FROM documents) WHERE rk <= 10
    """)
def _q_source_cap(spark, sf_dir):
    """C4-style per-domain cap: ≤10 docs per source, deterministic
    hash-ranked membership (content-stable across re-ingestion). One
    source-partitioned window shuffle."""
    from insights_spark.text.clean import per_source_cap

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return per_source_cap(d, 10)


@query("source_cap_stream_twin", oracle="""
        SELECT doc_id, source FROM (
          SELECT doc_id, source,
                 row_number() OVER (
                   PARTITION BY source ORDER BY doc_id ASC) AS rk
          FROM documents) WHERE rk <= 10
    """)
def _q_source_cap_stream_twin(spark, sf_dir):
    """Arrival-order per-source cap (text/clean.py:per_source_cap_arrival,
    r3 verdict #5): the lowest 10 doc ids per source, as one keyed window —
    what an admission counter admits when the corpus arrives as one batch.
    This row makes the semantics oracle-anchored and driver-visible."""
    from insights_spark.text.clean import per_source_cap_arrival

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return per_source_cap_arrival(d, 10)


_pg = _POLY_HASH.format(s="array_to_string(list_slice(t, {a}, {b}), ' ')")


@query("decontam", headline=True, oracle=f"""
        WITH tok AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x != '') AS t
          FROM documents WHERE text IS NOT NULL),
        bench AS (
          SELECT DISTINCT {_pg.format(a='4', b='16')} AS gh
          FROM tok WHERE mod(doc_id, 97) = 0 AND len(t) >= 16),
        dg AS (
          SELECT DISTINCT doc_id, {_pg.format(a='i + 1', b='i + 13')} AS gh
          FROM (SELECT doc_id, t, unnest(range(len(t) - 12)) AS i
                FROM tok WHERE len(t) >= 13))
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bench_grams
        FROM dg JOIN bench USING (gh) GROUP BY doc_id
    """)
def _q_decontam(spark, sf_dir):
    """Benchmark decontamination (LLM-pipeline hygiene): flag corpus docs
    containing any benchmark 13-gram. The benchmark set is synthesized
    in-query (every 97th doc contributes its tokens 4-16 as one eval item)
    so the check is self-contained and deterministic; at scale the
    benchmark side is the broadcast-small side by construction. Output:
    (doc_id, n_bench_grams) per contaminated doc — each source doc flags
    itself (it contains its own span), plus any verbatim copies."""
    from insights_spark.text.decontam import contaminated_docs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != ""
    )
    bench = (
        d.filter(F.col("text").isNotNull())
        .filter(F.pmod(F.col("doc_id"), F.lit(97)) == 0)
        .filter(F.size(toks) >= 16)
        .select(F.array_join(F.slice(toks, 4, 13), " ").alias("text"))
    )
    return contaminated_docs(d, bench)


@query("stratified_sample", oracle="""
        SELECT doc_id, lang FROM (
          SELECT doc_id, lang,
                 row_number() OVER (
                   PARTITION BY lang
                   ORDER BY mod(doc_id * 2654435761 + 29, 2147483648) ASC,
                            doc_id ASC) AS rk
          FROM documents) WHERE rk <= 20
    """)
def _q_stratified_sample(spark, sf_dir):
    """Balanced per-language sample (20/stratum): the training-mix
    balancing draw, hash-rank deterministic."""
    from insights_spark.text.clean import stratified_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(d, 20)


@query("mix_sources", headline=True, oracle="""
        WITH q AS (SELECT * FROM (VALUES ('src0', 34::BIGINT),
                                         ('src1', 17::BIGINT),
                                         ('src2', 8::BIGINT))
                   AS t(source, quota)),
        r AS (SELECT doc_id, d.source, quota,
                     CAST(row_number() OVER (
                       PARTITION BY d.source
                       ORDER BY (doc_id % 2147483648 * 2654435761 + 17)
                                % 2147483648 ASC, doc_id ASC)
                     AS INT) AS mix_rank
              FROM documents d JOIN q ON d.source = q.source)
        SELECT doc_id, source, mix_rank, quota
        FROM r WHERE mix_rank <= quota
    """)
def _q_mix_sources(spark, sf_dir):
    """Corpus mixing to target proportions (text/clean.py:mix_sources):
    weights 4:2:1 over three sources at total=60 → quotas 34/17/8, which
    exercises BOTH regimes at sf0.01 (src0 holds only 25 docs → shortfall
    takes all; src1/src2 select hash-ranked subsets)."""
    from insights_spark.text.clean import mix_sources

    return mix_sources(
        _t(spark, sf_dir, "documents"),
        weights={"src0": 4.0, "src1": 2.0, "src2": 1.0},
        total=60,
    )


@query("sliding_windows", headline=True, oracle=f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS tok FROM documents)
        SELECT doc_id, i AS win_idx, i * 8 AS tok_start,
               least(16, len(tok) - i * 8) AS win_tokens,
               array_to_string(tok[i*8+1 : i*8+16], ' ') AS win_text
        FROM toks, unnest(range(0, (len(tok) - 1) // 8 + 1)) AS u(i)
        WHERE len(tok) > 0
    """)
def _q_sliding_windows(spark, sf_dir):
    """Overlapping context windows (text/pack.py:sliding_windows),
    window=16 stride=8 — map-only, zero shuffle: the chunking pass in
    front of an embedding/retrieval indexer."""
    from insights_spark.text.pack import sliding_windows

    return sliding_windows(
        _t(spark, sf_dir, "documents"), window=16, stride=8
    )


@query("fuzzy_join", headline=True, oracle=f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS tok FROM documents),
        t0 AS (SELECT doc_id, array_to_string(tok[1:4], ' ') AS base
               FROM toks),
        titles AS (SELECT doc_id,
                          CASE WHEN doc_id % 5 = 0 AND len(base) >= 2
                               THEN base[1:1] || 'x' || base[3:]
                               ELSE base END AS title
                   FROM t0)
        SELECT a.doc_id AS a, b.doc_id AS b,
               CAST(levenshtein(a.title, b.title) AS INT) AS dist
        FROM titles a JOIN titles b ON a.doc_id < b.doc_id
        WHERE levenshtein(a.title, b.title) <= 1
    """)
def _q_fuzzy_join(spark, sf_dir):
    """Edit-distance-1 title pairs via FastSS deletion neighborhoods
    (text/fuzzy.py) — provably complete candidates from a variant-keyed
    equi-join, exact levenshtein verify, never all-pairs. Titles are the
    4-token prefix with a typo PLANTED on doc_id ≡ 0 mod 5 (pii_scrub
    precedent) so both distance classes are populated (11 exact + 15
    one-edit pairs at sf0.01)."""
    from insights_spark.text.fuzzy import fuzzy_pairs
    from insights_spark.text.quality import tokens

    base = F.array_join(F.slice(tokens(F.col("text")), 1, 4), " ")
    title = F.when(
        (F.pmod(F.col("doc_id"), F.lit(5)) == 0) & (F.length(base) >= 2),
        F.concat(
            F.substring(base, 1, 1), F.lit("x"), F.substring(base, 3, 1 << 20)
        ),
    ).otherwise(base)
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", title.alias("title")
    )
    return fuzzy_pairs(d)


_QUANTIZE_SQL = """
        WITH x AS (SELECT vec_id,
                          list_transform(embedding,
                                         v -> CAST(v AS DOUBLE)) AS xs,
                          CAST(len(embedding) AS INT) AS dim
                   FROM embeddings WHERE len(embedding) > 0),
        mm AS (SELECT vec_id, xs, dim,
                      list_aggregate(xs, 'min') AS lo,
                      list_aggregate(xs, 'max') - list_aggregate(xs, 'min')
                        AS span
               FROM x)
        SELECT vec_id, lo, span / 255.0 AS scale,
               list_transform(xs, v -> least(255, greatest(0,
                 CASE WHEN span = 0.0 THEN 0
                      ELSE CAST(floor((v - lo) * 255.0 / span) AS INT)
                 END))) AS codes,
               dim
        FROM mm
    """


@query("quantize", headline=True, oracle=_QUANTIZE_SQL)
def _q_quantize(spark, sf_dir):
    """Per-vector affine int8 quantization (text/quant.py) — the storage
    half of the embedding stack: map-only, zero shuffle, no UDF; both
    engines evaluate the identical double-precision expression tree."""
    from insights_spark.text.quant import quantize_embeddings

    return quantize_embeddings(_t(spark, sf_dir, "embeddings"))


@query("ann_ivf", headline=True, oracle="""
            SELECT CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_vectors,
                   CAST(5 * (SELECT count(*) FROM embeddings
                             WHERE mod(vec_id * 1000003 + 42, 1048576)
                                   * (SELECT count(*) FROM embeddings)
                                   < 256 * 1048576) AS BIGINT) AS n_pairs,
                   TRUE AS recall_ok
        """)
def _q_ann_ivf(spark, sf_dir):
    """IVF ANN with a built-in recall gate: the bucketed approximate top-k
    runs over all vectors; a deterministic FIXED-COUNT (~256) hash-threshold
    sample of queries is also answered exactly, and the query emits whether
    IVF recall on that sample clears a floor. The floor (0.12) is calibrated
    to the synthetic embeddings, which are RANDOM vectors — the IVF worst
    case (no cluster structure, recall ≈ probed fraction; measured 0.24-0.44
    across SFs) — so it catches structural regressions (garbage buckets →
    recall ≈ k/n) without over-fitting one fixture. Exact-search correctness
    itself is oracle-checked by `ann_topk`.

    The gate's exact pass costs O(sample × n) with sample bounded at ~256
    REGARDLESS of n (round-2 verdict fix: the old 1/16-fraction sample made
    the gate itself O(n²/16) at scale). The sample is picked by the same
    hash-threshold trick as `sample_centroids`: h(vec_id)·n < target·M —
    a map-side filter joined to the 1-row count, no sort, no collect.
    r4: the exact pass runs as the numpy-matmul SCAN (cosine_topk_sample,
    one pass over the vectors, no per-pair interpreted fold — the sf1
    scale-step measured the fold-based gate at 115 s vs ~4 s); valid here
    because this oracle checks counts + gate booleans, never hashed float
    scores (those stay with the fold-based `ann_topk`)."""
    from insights_spark.text.simsearch import (
        cosine_topk_bucketed, cosine_topk_sample)

    emb = _t(spark, sf_dir, "embeddings")
    approx = cosine_topk_bucketed(emb, nprobe=3)
    m_mod = 1 << 20
    n_row = emb.agg(F.count(F.lit(1)).alias("_n"))
    sample = (
        emb.crossJoin(F.broadcast(n_row))
        .filter(
            F.pmod(F.col("vec_id") * 1000003 + 42, F.lit(m_mod)) * F.col("_n")
            < F.lit(256 * m_mod)
        )
        .drop("_n")
    )
    exact = cosine_topk_sample(emb, queries=sample)
    hit = exact.join(
        approx.select("id", "neighbor_id").withColumn("_h", F.lit(1)),
        ["id", "neighbor_id"], "left",
    )
    stats = hit.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.coalesce("_h", F.lit(0))).alias("_nh"),
    )
    totals = emb.agg(F.count(F.lit(1)).alias("n_vectors"))
    return totals.crossJoin(stats).select(
        "n_vectors",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        (F.col("_nh") / F.col("n_pairs") >= 0.12).alias("recall_ok"),
    )


# portable simhash oracle: bit_k = majority vote of
# (poly(tok)*A_k + B_k) mod P < P//2 over the (non-distinct) token list;
# value assembled as two's-complement BIGINT (bit 63 contributes -2^63).
sh_bits = " + ".join(
    (
        f"CASE WHEN 2 * len(list_filter(hs, h -> "
        f"(h * {(2654435761 * (k + 1)) % 1000000007} "
        f"+ {(40503 * (k + 1) * 104729) % 1000000007})"
        f" % 1000000007 < 500000003)) > n THEN "
        + (str(1 << k) if k < 63 else "-9223372036854775808")
        + " ELSE 0 END"
    )
    for k in range(64)
)

sh_uns = (
    "CASE WHEN simhash < 0 THEN simhash::HUGEINT + 18446744073709551616 "
    "ELSE simhash::HUGEINT END"
)

sh_bands = " UNION ALL ".join(
    f"SELECT doc_id, simhash, {bi} AS band, "
    f"(({sh_uns}) // {1 << (16 * bi)}) % 65536 AS key FROM sh"
    for bi in range(4)
)


@query("simhash_pairs", oracle=f"""
            WITH toks AS (SELECT doc_id, {_TOKENS} AS tok FROM documents),
            gh AS (SELECT doc_id, len(tok) AS n,
                          list_transform(tok, t -> {_POLY_HASH.format(s='t')}) AS hs
                   FROM toks WHERE len(tok) > 0),
            sh AS (SELECT doc_id, CAST({sh_bits} AS BIGINT) AS simhash FROM gh),
            banded AS ({sh_bands}),
            pairs AS (SELECT b1.doc_id AS a, b2.doc_id AS b,
                             first(b1.simhash) AS sa, first(b2.simhash) AS sb
                      FROM banded b1 JOIN banded b2 USING (band, key)
                      WHERE b1.doc_id < b2.doc_id GROUP BY 1, 2)
            SELECT a, b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
            FROM pairs WHERE bit_count(xor(sa, sb)) <= 10
        """)
def _q_simhash_pairs(spark, sf_dir):
    from insights_spark.text.dedup import simhash_near_dups

    return simhash_near_dups(_t(spark, sf_dir, "documents"), max_hamming=10)


lsh_bands = " UNION ALL ".join(
    f"SELECT doc_id, {bi} AS band, sig[{bi * 4 + 1}:{bi * 4 + 4}] AS key FROM sig"
    for bi in range(4)
)

_MINHASH_LSH_PAIRS_SQL = f"""
            WITH toks AS (SELECT doc_id, {_TOKENS} AS tok FROM documents),
            grams AS (
              SELECT doc_id,
                     CASE WHEN len(tok) >= 3 THEN list_distinct(list_transform(
                       range(1, len(tok) - 1), i -> array_to_string(tok[i:i+2], ' ')))
                     ELSE [] END AS gs
              FROM toks),
            gh AS (SELECT doc_id, gs,
                          list_transform(gs, g -> {_POLY_HASH.format(s='g')}) AS hs
                   FROM grams),
            sig AS (SELECT doc_id, gs, [{sig16}] AS sig FROM gh),
            banded AS ({lsh_bands}),
            cand AS (SELECT b1.doc_id AS a, b2.doc_id AS b
                     FROM banded b1 JOIN banded b2 USING (band, key)
                     WHERE b1.doc_id < b2.doc_id GROUP BY 1, 2),
            v AS (SELECT cand.a, cand.b,
                         len(list_intersect(sa.gs, sb.gs)) AS i,
                         len(list_distinct(list_concat(sa.gs, sb.gs))) AS u
                  FROM cand JOIN sig sa ON cand.a = sa.doc_id
                            JOIN sig sb ON cand.b = sb.doc_id)
            SELECT a, b,
                   CASE WHEN u > 0 THEN i::DOUBLE / u ELSE 0.0 END AS jaccard
            FROM v WHERE CASE WHEN u > 0 THEN i::DOUBLE / u ELSE 0.0 END >= 0.5
        """


@query("minhash_lsh_pairs", headline=True, oracle=_MINHASH_LSH_PAIRS_SQL)
def _q_minhash_lsh(spark, sf_dir):
    from insights_spark.text.dedup import minhash_near_dups

    return minhash_near_dups(_t(spark, sf_dir, "documents"))


@query("multimodal_features", oracle="""
            WITH img AS (
              SELECT doc_id AS media_id,
                     rpad(regexp_replace(text, '[^ -~]', '', 'g'), 768, 'x') AS s
              FROM documents WHERE mod(doc_id, 3) = 0 AND text IS NOT NULL),
            e AS (SELECT media_id, s, unnest(range(8)) AS bin FROM img)
            SELECT media_id, CAST(768 AS BIGINT) AS n_bytes, CAST(bin AS INT) AS bin,
                   CAST(len(list_filter(string_split(s, ''),
                        c -> ascii(c) // 32 = bin)) AS INT) AS n_in_bin,
                   len(list_filter(string_split(s, ''),
                        c -> ascii(c) // 32 = bin)) / 768.0 AS share
            FROM e
        """)
def _q_multimodal(spark, sf_dir):
    """Multimodal plumbing: documents → binary media payloads → mapInPandas
    decode (deterministic payload-byte fake; PIL absent here) → per-bin
    histogram rows. Output is all-scalar columns (bin exploded) so the
    driver canonicalizer can hash it, and the fake decode is payload-derived
    byte bucketing, so DuckDB reproduces it from the text column."""
    from insights_spark.text.multimodal import image_features, media_from_docs

    media = media_from_docs(_t(spark, sf_dir, "documents"))
    feats = image_features(media, use_codec=False)
    return feats.select(
        "media_id",
        "n_bytes",
        F.posexplode("hist").alias("bin", "n_in_bin"),
    ).select(
        "media_id", "n_bytes", "bin", "n_in_bin",
        (F.col("n_in_bin") / F.lit(768.0)).alias("share"),
    )


@query("audio_features", oracle="""
        WITH aud AS (
          SELECT doc_id AS media_id,
                 rpad(regexp_replace(text, '[^ -~]', '', 'g'), 768, 'x') AS s
          FROM documents WHERE mod(doc_id, 3) = 1 AND text IS NOT NULL),
        v AS (SELECT media_id,
                     list_transform(string_split(s, ''), c -> ascii(c) - 64)
                       AS vs
              FROM aud)
        SELECT media_id, CAST(768 AS BIGINT) AS n_samples,
               CAST(list_max(list_transform(vs, x -> abs(x))) AS BIGINT) AS peak,
               CAST(list_sum(list_transform(vs, x -> x * x)) AS BIGINT)
                 AS energy,
               CAST(len(list_filter(range(1, len(vs)),
                                    i -> vs[i] * vs[i+1] < 0)) AS BIGINT)
                 AS zero_cross
        FROM v
    """)
def _q_audio_features(spark, sf_dir):
    """Multimodal audio path: payload → fake waveform (byte−64 centered
    samples) → INTEGER-exact summary stats (peak, Σs², zero crossings) via
    the same mapInPandas plumbing as image_features. No float aggregates
    on purpose: integer sums are shuffle-order-independent, so the oracle
    hashes exactly. NULL-text docs (payload-less) are filtered on both
    engines."""
    from insights_spark.text.multimodal import audio_features, media_from_docs

    media = media_from_docs(_t(spark, sf_dir, "documents"))
    return audio_features(media).filter(F.col("n_samples").isNotNull())


@query("frame_schedule", headline=True, oracle="""
        WITH v AS (
          SELECT doc_id AS media_id,
                 3000 + (doc_id % 7) * 500 AS duration_ms
          FROM documents WHERE doc_id % 3 = 2)
        SELECT media_id,
               CAST(gs AS INT) AS frame_idx,
               CAST(gs * 1000 AS BIGINT) AS ts_ms
        FROM v, unnest(generate_series(0,
                 greatest(CAST(floor(duration_ms / 1000.0) AS BIGINT) - 1, 0)))
               AS t(gs)
    """)
def _q_frame_schedule(spark, sf_dir):
    """Multimodal video path: the frame-sampling SCHEDULE (which frames to
    decode, at what timestamps) computed from metadata alone — the plan
    never touches payload bytes, so Parquet column pruning keeps the scan
    payload-free (no video codec is wired, so no frame is decoded).
    Completes the multimodal triple: image histogram, audio waveform
    stats, video frame schedule.
    Reference parity: the insights pipeline treats raster/media payloads
    as opaque blobs and schedules work from metadata (SURVEY §2.11)."""
    from insights_spark.text.multimodal import frame_sample, media_from_docs

    media = media_from_docs(_t(spark, sf_dir, "documents"))
    return frame_sample(media).select(
        F.col("media_id").cast("long").alias("media_id"),
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.col("ts_ms").cast("long").alias("ts_ms"),
    )


@query(
    "phash_pairs",
    headline=True,
    sf1_skip="synthetic docs share a small template space, so a "
    "~constant FRACTION of image pairs sits within hamming ≤ 3 "
    "(sf0.01→sf0.1 measured 2.5k→230k pairs, ~92× at 10× data): the "
    "OUTPUT is quadratic in this fixture by construction and an sf1 "
    "row would time the answer's size, not the banded-join plan",
    oracle="""
            WITH img AS (
              SELECT doc_id AS media_id,
                     rpad(regexp_replace(text, '[^ -~]', '', 'g'), 768, 'x') AS s
              FROM documents WHERE mod(doc_id, 3) = 0 AND text IS NOT NULL),
            g AS (
              SELECT media_id,
                     list_transform(range(256),
                       p -> ascii(s[3*p+1]) + ascii(s[3*p+2]) + ascii(s[3*p+3]))
                       AS gray
              FROM img),
            h AS (
              SELECT media_id,
                     list_transform(range(64), b ->
                       gray[(2*(b//8))*16 + 2*mod(b,8) + 1]
                     + gray[(2*(b//8))*16 + 2*mod(b,8) + 2]
                     + gray[(2*(b//8)+1)*16 + 2*mod(b,8) + 1]
                     + gray[(2*(b//8)+1)*16 + 2*mod(b,8) + 2]) AS blocks,
                     list_sum(gray) AS total
              FROM g),
            bits AS (
              SELECT media_id,
                     list_transform(range(64), b ->
                       CASE WHEN blocks[b+1]*64 > total THEN 1 ELSE 0 END) AS bit
              FROM h),
            ah AS (
              SELECT media_id,
                     CAST(list_sum(list_transform(range(63),
                            b -> bit[b+1] * (CAST(1 AS BIGINT) << b))) AS BIGINT)
                     + CASE WHEN bit[64] = 1
                            THEN CAST(-9223372036854775807 - 1 AS BIGINT)
                            ELSE 0 END AS ahash
              FROM bits)
            SELECT a.media_id AS a, b.media_id AS b,
                   CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS hamming
            FROM ah a JOIN ah b ON a.media_id < b.media_id
            WHERE a.ahash != 0 AND b.ahash != 0
              AND bit_count(xor(a.ahash, b.ahash)) <= 3
        """,
)
def _q_phash_pairs(spark, sf_dir):
    """Image near-dup by perceptual hash: 64-bit integer-exact aHash over
    the fake-decoded 16x16 images (per-pixel r+g+b sums, 2x2 pooling, bit
    = block*64 > total — no floats anywhere), then the SAME banded
    self-join as simhash text dedup (4 bands x 16 bits, pigeonhole-
    complete for hamming ≤ 3, popcount verify). The oracle replays the
    whole hash in DuckDB list algebra and does the O(n²) verify — banding
    completeness means the two result sets are provably identical.
    Reference parity: raster tiles deduped as opaque blobs (SURVEY §2.11);
    this is the image half of the near-dup lane."""
    from insights_spark.text.multimodal import media_from_docs, phash_near_dups

    media = media_from_docs(_t(spark, sf_dir, "documents"))
    return phash_near_dups(media, use_codec=False)


@query("rep_filters", headline=True, oracle=f"""
        WITH d AS (SELECT doc_id, {_TOKENS} AS toks,
                          length(regexp_replace(lower(text), '\\s+', '', 'g'))
                            AS tok_chars
                   FROM documents WHERE text IS NOT NULL),
        tok AS (SELECT doc_id, t AS tok, count(*) AS c
                FROM d, unnest(toks) u(t) GROUP BY doc_id, t),
        ta AS (SELECT doc_id, sum(c) AS n_toks,
                      sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_toks,
                      sum(CASE WHEN c > 1 THEN c * length(tok) ELSE 0 END)
                        AS dup_tok_chars
               FROM tok GROUP BY doc_id),
        g AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram
              FROM d, unnest(range(1, len(toks))) t(i)),
        gc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram),
        ga AS (SELECT doc_id,
                      sum(CASE WHEN c > 1 THEN c * (length(gram) - 1)
                          ELSE 0 END) AS dup_gram_chars
               FROM gc GROUP BY doc_id),
        gt AS (SELECT doc_id, c, gram,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY c DESC, gram ASC) AS rn
               FROM gc)
        SELECT d.doc_id,
               CAST(coalesce(ta.n_toks, 0) AS BIGINT) AS n_tokens,
               CASE WHEN coalesce(ta.n_toks, 0) > 0
                    THEN ta.dup_toks / ta.n_toks ELSE 0.0 END AS dup_token_frac,
               CASE WHEN d.tok_chars > 0
                    THEN coalesce(ta.dup_tok_chars, 0) / d.tok_chars
                    ELSE 0.0 END AS dup_token_char_frac,
               CASE WHEN d.tok_chars > 0 AND tg.gram IS NOT NULL
                    THEN tg.c * (length(tg.gram) - 1) / d.tok_chars
                    ELSE 0.0 END AS top_2gram_char_frac,
               CASE WHEN d.tok_chars > 0
                    THEN coalesce(ga.dup_gram_chars, 0) / d.tok_chars
                    ELSE 0.0 END AS dup_2gram_char_frac
        FROM d
        LEFT JOIN ta USING (doc_id)
        LEFT JOIN ga USING (doc_id)
        LEFT JOIN (SELECT doc_id, c, gram FROM gt WHERE rn = 1) tg USING (doc_id)
    """)
def _q_rep_filters(spark, sf_dir):
    """Gopher-style repetition quality gates (duplicate-token fraction,
    duplicate-token char fraction, top-2-gram char fraction, duplicate-
    2-gram char fraction) — the standard web-crawl repetition filters.
    Two doc-keyed aggregations over exploded terms; no Python. Fractions
    are integer-sum / integer-sum single divisions, so DuckDB reproduces
    the doubles bit-exactly."""
    from insights_spark.text.quality import repetition_scores

    return repetition_scores(
        _t(spark, sf_dir, "documents")
    ).select(
        "doc_id",
        "n_tokens",
        "dup_token_frac",
        "dup_token_char_frac",
        F.col("top_gram_char_frac").alias("top_2gram_char_frac"),
        F.col("dup_gram_char_frac").alias("dup_2gram_char_frac"),
    )


@query("boilerplate", headline=True, oracle=f"""
        WITH d AS (SELECT doc_id, {_TOKENS} AS toks FROM documents
                   WHERE text IS NOT NULL AND len({_TOKENS}) > 0),
        seg AS (SELECT doc_id,
                       array_to_string(toks[(j-1)*10+1:j*10], ' ') AS line
                FROM d, unnest(range(1, CAST(ceil(len(toks) / 10.0) AS BIGINT)
                                        + 1)) t(j)),
        dfc AS (SELECT line, count(DISTINCT doc_id) AS dfd FROM seg
                GROUP BY line),
        fl AS (SELECT s.doc_id, s.line, (dfc.dfd >= 2) AS isb
               FROM seg s JOIN dfc USING (line))
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_segs,
               CAST(sum(CASE WHEN isb THEN 1 ELSE 0 END) AS BIGINT)
                 AS boiler_segs,
               sum(CASE WHEN isb THEN 1 ELSE 0 END) / count(*) AS boiler_frac,
               CAST(sum(CASE WHEN isb THEN 0
                        ELSE len(string_split(line, ' ')) END) AS BIGINT)
                 AS kept_tokens
        FROM fl GROUP BY doc_id
    """)
def _q_boilerplate(spark, sf_dir):
    """CCNet-style boilerplate detection: cross-document duplicate
    10-token segments flagged by document frequency (df >= 2), rolled up
    to per-doc boilerplate fraction + post-removal token accounting. One
    content-keyed aggregation builds the (small) boilerplate dictionary;
    AQE broadcasts it back onto the segment stream."""
    from insights_spark.text.clean import boilerplate_flags

    return boilerplate_flags(_t(spark, sf_dir, "documents"))


@query("pii_scrub", headline=True, oracle=f"""
        WITH aug AS (
          SELECT doc_id,
                 CASE doc_id % 13
                   WHEN 0 THEN text || ' contact user' ||
                               CAST(doc_id AS VARCHAR) || '@example.com now'
                   WHEN 1 THEN text || ' call (555) 010-' ||
                               lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   WHEN 2 THEN text || ' from 10.0.' ||
                               CAST(doc_id % 256 AS VARCHAR) || '.' ||
                               CAST(doc_id % 256 AS VARCHAR) || ' logged'
                   ELSE text END AS text
          FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS INT)
                 AS n_emails,
               CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS INT)
                 AS n_phones,
               CAST(len(regexp_extract_all(text, '{IPV4_RE}')) AS INT)
                 AS n_ips,
               regexp_replace(regexp_replace(regexp_replace(text,
                 '{EMAIL_RE}', '<EMAIL>', 'g'),
                 '{PHONE_RE}', '<PHONE>', 'g'),
                 '{IPV4_RE}', '<IP>', 'g') AS redacted
        FROM aug
    """)
def _q_pii_scrub(spark, sf_dir):
    """PII hygiene pass: per-doc email/phone/IPv4 counts + typed-token
    redaction (text/pii.py — map-only JVM regex, zero shuffle). The
    fixture text is PII-free word soup, so the query deterministically
    plants PII in ~3/13 of docs first (keyed on doc_id alone) — the
    redaction path is exercised non-vacuously and the oracle replants
    identically."""
    from insights_spark.text.pii import pii_scrub

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    m = F.pmod(F.col("doc_id"), F.lit(13))
    did = F.col("doc_id").cast("string")
    aug = (
        F.when(
            m == 0,
            F.concat(F.col("text"), F.lit(" contact user"), did,
                     F.lit("@example.com now")),
        )
        .when(
            m == 1,
            F.concat(
                F.col("text"), F.lit(" call (555) 010-"),
                F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"),
                       4, "0"),
            ),
        )
        .when(
            m == 2,
            F.concat(
                F.col("text"), F.lit(" from 10.0."),
                F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
                F.lit("."),
                F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
                F.lit(" logged"),
            ),
        )
        .otherwise(F.col("text"))
    )
    return pii_scrub(d.select("doc_id", aug.alias("text")))


@query("budget_select", headline=True, oracle=f"""
        WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents
                   WHERE text IS NOT NULL),
        d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                     len(list_distinct(toks))::DOUBLE / len(toks) AS uniq
              FROM t WHERE len(toks) > 0),
        c AS (SELECT doc_id, n_tokens,
                     sum(n_tokens) OVER (ORDER BY uniq DESC, doc_id)
                       AS cum_tokens
              FROM d)
        SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
        FROM c WHERE cum_tokens <= 8000
    """)
def _q_budget_select(spark, sf_dir):
    """Token-budget corpus selection: best-quality-first docs until 8000
    cumulative tokens (text/clean.py:budget_select). The global ordered
    prefix sum runs as the two-phase distributed scan (pack.global_cumsum),
    NOT a single-partition window — same plan discipline as
    pack_sequences, now keyed on a computed quality order."""
    from insights_spark.text.clean import budget_select

    return budget_select(_t(spark, sf_dir, "documents"), token_budget=8000)


@query("classifier_score", headline=True, oracle=f"""
        WITH d AS (SELECT doc_id, {_TOKENS} AS toks FROM documents
                   WHERE text IS NOT NULL),
        tr AS (SELECT doc_id, t AS tok FROM d, unnest(toks) u(t)),
        vocab AS (SELECT DISTINCT tok FROM tr),
        w AS (SELECT tok,
                     CAST(({_POLY_HASH.format(s='tok')}) % 97 - 48 AS BIGINT)
                       AS w
              FROM vocab),
        s AS (SELECT doc_id, sum(w.w) AS sw, count(*) AS n
              FROM tr JOIN w USING (tok) GROUP BY doc_id)
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_tokens,
               sw / (97.0 * n) AS score,
               sw > 0 AS keep
        FROM s
    """)
def _q_classifier_score(spark, sf_dir):
    """fastText-style linear quality classifier (text/classify.py): token
    stream broadcast-joined to a weight table, doc-keyed integer rollup,
    ONE final division (no order-dependent float sums → engine-exact
    score), threshold on the exact integer sum. The weight table derives
    in-query from the corpus vocabulary (a real run broadcasts its
    exported model instead)."""
    from insights_spark.text.classify import classifier_score

    return classifier_score(_t(spark, sf_dir, "documents"))


# CC oracle composes the minhash-pair SQL verbatim as a CTE, so the
# pair set under test is bit-identical to the minhash_lsh_pairs oracle
_DEDUP_CLUSTERS_SQL = f"""
        WITH RECURSIVE prs AS ({_MINHASH_LSH_PAIRS_SQL}),
        nodes AS (SELECT doc_id AS id FROM documents),
        edges AS (SELECT a AS src, b AS dst FROM prs
                  UNION SELECT b AS src, a AS dst FROM prs),
        reach(src, dst) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        )
        SELECT n.id AS doc_id, c.cluster_id,
               n.id = c.cluster_id AS is_canonical
        FROM nodes n
        JOIN (SELECT src, MIN(dst) AS cluster_id FROM reach GROUP BY src) c
          ON n.id = c.src
    """


@query("dedup_clusters", headline=True, oracle=_DEDUP_CLUSTERS_SQL)
def _q_dedup_clusters(spark, sf_dir):
    """Near-dup pairs → duplicate clusters → canonical survivors
    (text/dedup.py:near_dup_clusters): MinHash-LSH pairs fed through the
    generic star-contraction connected components (the same
    star_cc_labels the tile regions use — O(log² n) rounds, state = the
    shrinking edge list). Pairwise dedup is wrong under transitivity
    (A~B, B~C must keep ONE doc); this is the step that makes it right."""
    from insights_spark.text.dedup import minhash_near_dups, near_dup_clusters

    d = _t(spark, sf_dir, "documents")
    return near_dup_clusters(d, minhash_near_dups(d))


@query("cluster_savings", headline=True, oracle=f"""
        WITH RECURSIVE prs AS ({_MINHASH_LSH_PAIRS_SQL}),
        nodes AS (SELECT doc_id AS id FROM documents),
        edges AS (SELECT a AS src, b AS dst FROM prs
                  UNION SELECT b AS src, a AS dst FROM prs),
        reach(src, dst) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ),
        lab AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
                FROM reach GROUP BY src),
        j AS (SELECT l.doc_id, l.cluster_id, d.source, d.n_chars
              FROM lab l JOIN documents d ON l.doc_id = d.doc_id)
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(sum(CASE WHEN doc_id = cluster_id THEN n_chars
                             ELSE 0 END) AS BIGINT) AS kept_chars,
               CAST(sum(n_chars) AS BIGINT)
               - CAST(sum(CASE WHEN doc_id = cluster_id THEN n_chars
                               ELSE 0 END) AS BIGINT) AS saved_chars
        FROM j GROUP BY cluster_id
    """)
def _q_cluster_savings(spark, sf_dir):
    """Dedup accounting (text/dedup.py:cluster_savings): per near-dup
    cluster, chars kept vs saved by keeping only the canonical doc —
    composed on near_dup_clusters; the oracle composes the recursive-CTE
    reachability with a documents join."""
    from insights_spark.text.dedup import (
        cluster_savings,
        minhash_near_dups,
        near_dup_clusters,
    )

    d = _t(spark, sf_dir, "documents")
    return cluster_savings(d, near_dup_clusters(d, minhash_near_dups(d)))


@query("corpus_shuffle", headline=True, oracle="""
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY
                   ((doc_id % 2147483648) * 2654435761 + 17) % 1000000007,
                   doc_id) - 1 AS BIGINT) AS shuffle_rank
        FROM documents
    """)
def _q_corpus_shuffle(spark, sf_dir):
    """Deterministic global training-order shuffle (text/pack.py:
    corpus_shuffle): content-stable hash order, global rank via the
    shared two-phase distributed scan — the oracle's single-node
    row_number() window is exactly the plan shape the operator avoids."""
    from insights_spark.text.pack import corpus_shuffle

    return corpus_shuffle(_t(spark, sf_dir, "documents"))


_mvi_band = (
    "SELECT doc_id, {b} AS band, sig[{lo}:{hi}] AS key, sig "
    "FROM live WHERE doc_id % 3 {op} 0"
)

_mvi_batch = " UNION ALL ".join(
    _mvi_band.format(b=b, lo=b * 4 + 1, hi=b * 4 + 4, op="=")
    for b in range(4)
)

_mvi_index = " UNION ALL ".join(
    _mvi_band.format(b=b, lo=b * 4 + 1, hi=b * 4 + 4, op="!=")
    for b in range(4)
)


@query("minhash_vs_index", headline=True, oracle=f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS tok FROM documents),
        grams AS (
          SELECT doc_id,
                 CASE WHEN len(tok) >= 3 THEN list_distinct(list_transform(
                   range(1, len(tok) - 1), i -> array_to_string(tok[i:i+2], ' ')))
                 ELSE [] END AS gs
          FROM toks),
        gh AS (SELECT doc_id, list_transform(gs, g -> {_POLY_HASH.format(s='g')})
                 AS hs
               FROM grams),
        sig AS (SELECT doc_id, [{sig16}] AS sig FROM gh),
        live AS (SELECT doc_id, sig FROM sig WHERE sig[1] != 1000000007),
        ba AS ({_mvi_batch}),
        bx AS ({_mvi_index}),
        cand AS (SELECT ba.doc_id AS a, bx.doc_id AS b,
                        any_value(ba.sig) AS sa, any_value(bx.sig) AS sb
                 FROM ba JOIN bx USING (band, key) GROUP BY 1, 2)
        SELECT a, b,
               len(list_filter(range(1, 17), i -> sa[i] = sb[i])) / 16.0
                 AS est_jaccard
        FROM cand
        WHERE len(list_filter(range(1, 17), i -> sa[i] = sb[i])) / 16.0 >= 0.5
    """)
def _q_minhash_vs_index(spark, sf_dir):
    """Incremental cross-corpus near-dedup (text/dedup.py:
    minhash_vs_index): a new batch (doc_id ≡ 0 mod 3) checked against the
    existing corpus's signature index (the rest) — band-bucket join,
    signature-estimated Jaccard verify, indexed text never re-read."""
    from insights_spark.text.dedup import minhash_signature_np, minhash_vs_index

    # persisted (r6): each side feeds BOTH the band explode and the
    # signature re-attach join inside minhash_vs_index — without the pin
    # the signature UDF pass would run twice per side
    sigs = pin(
        _t(spark, sf_dir, "documents")
        .select("doc_id", minhash_signature_np()(F.col("text")).alias("sig"))
    )
    batch = sigs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == 0)
    index = sigs.filter(F.pmod(F.col("doc_id"), F.lit(3)) != 0)
    return minhash_vs_index(batch, index)


@query("triangles", headline=True, oracle=f"""
        WITH {_DOC_GRAPH_SQL},
        ue AS (
          SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM e0),
        tri AS (
          SELECT e1.a, e1.b, e2.b AS c
          FROM ue e1
          JOIN ue e2 ON e1.a = e2.a AND e1.b < e2.b
          JOIN ue e3 ON e3.a = e1.b AND e3.b = e2.b),
        corners AS (
          SELECT a AS id FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
        SELECT id, CAST(count(*) AS BIGINT) AS n_triangles
        FROM corners GROUP BY id
    """)
def _q_triangles(spark, sf_dir):
    """Per-node triangle counts (text/links.py triangle_counts) over the
    pagerank fixture's deterministic 3-out graph: degree-ordered
    orientation caps the wedge join at O(√m) out-degree per node (the
    hub-skew bound id-order cannot give); the result is
    orientation-invariant, so the oracle verifies with the plain
    canonical a<b<c three-way self-join."""
    from insights_spark.text.links import triangle_counts

    return triangle_counts(_doc_graph(_t(spark, sf_dir, "documents")))


@query("lang_margin", headline=True, oracle=f"""
        WITH scored AS (SELECT doc_id, {lang_scores} FROM documents),
        u AS (
          SELECT doc_id, 'de' AS lang, r_de AS r FROM scored
          UNION ALL SELECT doc_id, 'en', r_en FROM scored
          UNION ALL SELECT doc_id, 'fr', r_fr FROM scored
          UNION ALL SELECT doc_id, 'sw', r_sw FROM scored),
        rk AS (
          SELECT doc_id, lang, r,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY r DESC, lang ASC) AS rn
          FROM u)
        SELECT a.doc_id,
               CASE WHEN a.r > 0 THEN a.lang END AS lang_pred,
               CASE WHEN b.r > 0 THEN b.lang END AS lang_second,
               a.r - b.r AS margin,
               CAST(a.r > 0 AND b.r > 0 AND (a.r - b.r) < 0.1 AS INT)
                 AS is_mixed
        FROM rk a JOIN rk b
          ON a.doc_id = b.doc_id AND a.rn = 1 AND b.rn = 2
    """)
def _q_lang_margin(spark, sf_dir):
    """Language-id confidence (text/quality.py lang_margin): top-1/top-2
    stopword-density margin + mixed-language flag (the CLD-style
    'reliable' bit) — code-switched pages must not route on the argmax
    alone. Map-only column scoring, ties by language code both engines."""
    from insights_spark.text.quality import lang_margin

    return lang_margin(_t(spark, sf_dir, "documents")).select(
        "doc_id", "lang_pred", "lang_second", "margin", "is_mixed"
    )


@query("score_calibration", headline=True, oracle=f"""
        WITH q AS (
          SELECT doc_id, source,
                 CASE WHEN len({_TOKENS}) > 0 THEN
                   len(list_distinct({_TOKENS}))::DOUBLE / len({_TOKENS})
                   ELSE 0.0 END AS uniq_token_ratio
          FROM documents)
        SELECT source, doc_id, uniq_token_ratio,
               cume_dist() OVER (PARTITION BY source
                                 ORDER BY uniq_token_ratio, doc_id)
                 AS pct_rank
        FROM q
    """)
def _q_score_calibration(spark, sf_dir):
    """Per-source percentile-rank score calibration (text/quality.py
    score_percentile_rank): cume_dist semantics without the
    partitionBy(source) window (a handful of giant sources would each
    sort on one task) — global rank on the shared two-phase prefix scan,
    per-source offsets broadcast back. Score = uniq_token_ratio."""
    from insights_spark.text.quality import quality_scores, score_percentile_rank

    d = _t(spark, sf_dir, "documents")
    q = quality_scores(d).select(
        "doc_id", "uniq_token_ratio"
    ).join(d.select("doc_id", "source"), "doc_id")
    return score_percentile_rank(q, "uniq_token_ratio")


@query("curriculum_order", headline=True, oracle=f"""
        WITH q AS (
          SELECT doc_id,
                 CASE WHEN len({_TOKENS}) > 0 THEN
                   len(list_distinct({_TOKENS}))::DOUBLE / len({_TOKENS})
                   ELSE 0.0 END AS uniq
          FROM documents),
        b AS (
          SELECT doc_id,
                 CAST(least(9, CAST(floor(uniq * 10) AS INT)) AS INT) AS band,
                 mod(mod(doc_id, 2147483648) * 2654435761 + 17,
                     1000000007) AS hk
          FROM q)
        SELECT doc_id, band,
               CAST(row_number() OVER (ORDER BY band DESC, hk ASC,
                                       doc_id ASC) - 1 AS BIGINT)
                 AS curriculum_rank
        FROM b
    """)
def _q_curriculum(spark, sf_dir):
    """Curriculum training order (text/pack.py curriculum_order): quality
    VALUE bands (map-only, content-stable — not ntile rank bands, which
    would need a global sort), highest first, hash-shuffled within band;
    the global position rides the shared two-phase prefix scan, never a
    single-partition ORDER BY window (suite-wide plan rule)."""
    from insights_spark.text.pack import curriculum_order

    return curriculum_order(_t(spark, sf_dir, "documents"))


# composed verbatim on the dedup_clusters reachability (ann_int8
# precedent): same clusters, split stamped on the CLUSTER id
@query("cluster_safe_split", headline=True, oracle=(
    "SELECT doc_id, cluster_id, "
    "CASE WHEN mod(mod(cluster_id, 1000) * 1000003 + 7, 1000) < 100 "
    "THEN 'test' ELSE 'train' END AS split FROM ("
    + _DEDUP_CLUSTERS_SQL
    + ")"
))
def _q_cluster_safe_split(spark, sf_dir):
    """Leakage-free train/test split (text/clean.py cluster_safe_split):
    the split key is the near-dup CLUSTER id, so a doc and its 0.95-twin
    can never straddle train/eval — the contamination a doc-keyed split
    can't prevent. Oracle = the dedup_clusters reachability composed
    verbatim + the same overflow-safe bucket hash on cluster_id."""
    from insights_spark.text.clean import cluster_safe_split
    from insights_spark.text.dedup import minhash_near_dups, near_dup_clusters

    d = _t(spark, sf_dir, "documents")
    labels = near_dup_clusters(d, minhash_near_dups(d))
    return cluster_safe_split(labels)


@query(
    "semantic_prune",
    headline=True,
    sf1_skip="the registered query pins num_centroids=16 for "
    "oracle parity, so per-bucket candidate volume is ∝(n/16)² — "
    "quadratic at 10× data; production (SemDeDup) scales k ∝ √n to "
    "keep buckets ~√n, which the operator parameter exposes",
    oracle="""
            WITH RECURSIVE cent AS (
              SELECT embedding AS cvec,
                     CAST(row_number() OVER (
                       ORDER BY mod(vec_id * 2654435761 + 42,
                                    2 * (SELECT count(*) FROM embeddings) + 1),
                                vec_id) AS INT) AS cent_id
              FROM embeddings
              QUALIFY cent_id <= 16),
            scored AS (
              SELECT a.vec_id, c.cent_id,
                     list_dot_product(a.embedding::DOUBLE[], c.cvec::DOUBLE[])
                     / (sqrt(list_dot_product(a.embedding::DOUBLE[],
                                              a.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(c.cvec::DOUBLE[],
                                                c.cvec::DOUBLE[]))) AS score
              FROM embeddings a CROSS JOIN cent c),
            asg AS (
              SELECT vec_id, cent_id FROM (
                SELECT vec_id, cent_id,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY score DESC, cent_id) AS rn
                FROM scored) WHERE rn = 1),
            prs AS (
              SELECT x.vec_id AS a, y.vec_id AS b
              FROM asg x JOIN asg y
                ON x.cent_id = y.cent_id AND x.vec_id < y.vec_id
              JOIN embeddings ea ON ea.vec_id = x.vec_id
              JOIN embeddings eb ON eb.vec_id = y.vec_id
              WHERE list_dot_product(ea.embedding::DOUBLE[],
                                     eb.embedding::DOUBLE[])
                    / (sqrt(list_dot_product(ea.embedding::DOUBLE[],
                                             ea.embedding::DOUBLE[]))
                       * sqrt(list_dot_product(eb.embedding::DOUBLE[],
                                               eb.embedding::DOUBLE[])))
                    >= 0.4),
            nodes AS (SELECT vec_id AS id FROM embeddings),
            edges AS (SELECT a AS src, b AS dst FROM prs
                      UNION SELECT b, a FROM prs),
            reach(src, dst) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
            roots AS (SELECT src, MIN(dst) AS cluster_id FROM reach GROUP BY src)
            SELECT n.id AS vec_id, asg.cent_id, roots.cluster_id,
                   CAST(roots.cluster_id = n.id AS INT) AS is_kept
            FROM nodes n
            JOIN asg ON asg.vec_id = n.id
            JOIN roots ON roots.src = n.id
        """,
)
def _q_semantic_prune(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): IVF-bucket the embedding space
    (hash-sampled centroids), within-bucket exact cosine pairs ≥ 0.4,
    transitive components via star-contraction CC, keep min-id per
    component. Quadratic only per bucket (k ∝ √n keeps buckets ~√n);
    the oracle replays assignment + pairs + a recursive-CTE reachability
    with list_dot_product float parity (same fold as cos_near_dups)."""
    from insights_spark.text.simsearch import semantic_prune

    return semantic_prune(_t(spark, sf_dir, "embeddings"))


# systematic PPS sampling, replayed with the identical integer
# arithmetic on HUGEINT (DuckDB's native 128-bit — the oracle twin
# of Spark's DECIMAL(38,0) products); mod() on non-negative
# HUGEINTs == pmod, and the window carries an explicit ROWS frame
# so the prefix sum is the same total-order scan.
@query("pps_sample", headline=True, oracle="""
            WITH w AS (
              SELECT doc_id, text, lang, source, n_chars,
                     mod(mod(doc_id, 2147483648) * 2654435761 + 29,
                         2147483648) AS h
              FROM documents WHERE n_chars > 0),
            c AS (
              SELECT *,
                     CAST(sum(n_chars) OVER (ORDER BY h, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS HUGEINT) AS c,
                     CAST(sum(n_chars) OVER () AS HUGEINT) AS W
              FROM w)
            SELECT doc_id, text, lang, source, n_chars FROM c
            WHERE CAST(n_chars AS HUGEINT) * 97 >
                  mod(c * 97, W) - mod((c - n_chars) * 97, W)
        """)
def _q_pps_sample(spark, sf_dir):
    """Weighted (PPS) corpus sampling (text/sample.py:pps_sample), n=97
    grid points over char mass — integer-exact systematic sampling
    (Madow 1949): DECIMAL(38,0) products, mod-only floor comparison (the
    measured Spark DECIMAL-DIV wrap rules out quotients), prefix sums on
    the shared two-phase distributed scan."""
    from insights_spark.text.sample import pps_sample

    return pps_sample(_t(spark, sf_dir, "documents"), 97)


# int8 ANN: the quantize oracle composed verbatim as the code store,
# scored with list_dot_product (exact ≤ 2^53: dot ≤ 255²·dim) —
# BIGINT on both engines, ties broken by vec_id so top-k is total.
@query("ann_int8", headline=True, oracle=f"""
        WITH z AS ({_QUANTIZE_SQL}),
        q AS (SELECT vec_id AS query_id,
                     list_transform(codes, v -> CAST(v AS DOUBLE)) AS qc
              FROM z WHERE vec_id < 4),
        scored AS (
            SELECT q.query_id, z.vec_id,
                   CAST(list_dot_product(
                       q.qc,
                       list_transform(z.codes, v -> CAST(v AS DOUBLE))
                   ) AS BIGINT) AS dot
            FROM q, z WHERE z.vec_id <> q.query_id),
        rk AS (SELECT *, row_number() OVER (
                   PARTITION BY query_id ORDER BY dot DESC, vec_id) AS r
               FROM scored)
        SELECT query_id, vec_id, dot FROM rk WHERE r <= 5
    """)
def _q_ann_int8(spark, sf_dir):
    """int8 code-space top-k (text/quant.py:int8_topk): search runs on
    the quantized store without dequantizing — integer dot products
    (zip_with+aggregate, JVM codegen, no UDF), queries broadcast, one
    scan, k-bounded TakeOrdered state. dot ≤ 255²·dim is exact BIGINT
    here and exact ≤2⁵³ DOUBLE in the oracle's list_dot_product."""
    from insights_spark.text.quant import int8_topk, quantize_embeddings

    codes = quantize_embeddings(_t(spark, sf_dir, "embeddings"))
    return int8_topk(codes, query_ids=[0, 1, 2, 3])


# BFS: UNION (not ALL) dedups (id, dist) pairs, so the recursion
# terminates on cycles; min(dist) = first-visit level = Spark's BFS.
@query("bfs_hops", headline=True, oracle=f"""
        WITH RECURSIVE {_DOC_GRAPH_SQL},
        e AS (SELECT src, dst FROM e0),
        walk(id, dist) AS (
            SELECT doc_id, 0 FROM documents WHERE mod(doc_id, 97) = 0
            UNION
            SELECT e.dst, w.dist + 1
            FROM walk w JOIN e ON e.src = w.id WHERE w.dist < 3
        )
        SELECT id AS doc_id, CAST(min(dist) AS INT) AS dist
        FROM walk GROUP BY id
    """)
def _q_bfs_hops(spark, sf_dir):
    """Multi-source BFS hop distance (text/links.py:bfs_hop_distance),
    max 3 hops from the doc_id≡0 (mod 97) seed set over the pagerank
    fixture's deterministic 3-out graph — all-integer first-visit levels,
    so the recursive-CTE oracle (UNION dedup bounds the walk on cycles)
    matches exactly."""
    from insights_spark.text.links import bfs_hop_distance

    docs = _t(spark, sf_dir, "documents")
    sources = docs.select(F.col("doc_id").alias("id")).filter(
        F.pmod(F.col("id"), F.lit(97)) == 0)
    return bfs_hop_distance(_doc_graph(docs), sources, max_hops=3).select(
        F.col("id").alias("doc_id"), "dist")


@query("sssp", headline=True, oracle=f"""
        WITH RECURSIVE {_DOC_GRAPH_SQL},
        e AS (SELECT src, dst, 1 + mod(src + dst, 9) AS w FROM e0),
        walk(id, d, steps) AS (
            SELECT doc_id, CAST(0 AS BIGINT), 0
            FROM documents WHERE mod(doc_id, 97) = 0
            UNION ALL
            SELECT e.dst, w.d + e.w, w.steps + 1
            FROM walk w JOIN e ON e.src = w.id WHERE w.steps < 4
        )
        SELECT id AS doc_id, CAST(min(d) AS BIGINT) AS dist
        FROM walk GROUP BY id
    """)
def _q_sssp(spark, sf_dir):
    """Bounded weighted SSSP (text/links.py:sssp_weighted): min total
    edge weight within 4 edges from the doc_id≡0 (mod 97) seeds over the
    shared 3-out graph, weight 1+(src+dst) mod 9 — frontier-pruned
    Bellman–Ford supersteps (join + dst-keyed MIN pre-combine), all
    integer, so the bounded-step path-enumeration oracle matches exactly."""
    from insights_spark.text.links import sssp_weighted

    docs = _t(spark, sf_dir, "documents")
    edges = _doc_graph(docs).withColumn(
        "w", F.lit(1) + F.pmod(F.col("src") + F.col("dst"), F.lit(9))
    )
    sources = docs.select(F.col("doc_id").alias("id")).filter(
        F.pmod(F.col("id"), F.lit(97)) == 0)
    return sssp_weighted(edges, sources, rounds=4).select(
        F.col("id").alias("doc_id"), "dist")


# Bigram-LM surprisal: the token chain is the shared _TOKENS split;
# bigrams via LATERAL generate_series (1-based list index i, i+1 =
# Spark's 0-based t[i-1], t[i]); the floor-log2 quantization is
# length(bin(q))-1 in BOTH engines — no libm log anywhere.
@query("lm_perplexity", headline=True, oracle=f"""
        WITH d AS (SELECT doc_id, {_TOKENS} AS t FROM documents),
        g AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
              FROM d, LATERAL unnest(generate_series(1, len(t) - 1)) AS u(i)
              WHERE len(t) >= 2),
        tr AS (SELECT * FROM g WHERE doc_id % 4 = 0),
        big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
                FROM tr GROUP BY 1, 2),
        uni AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM tr GROUP BY 1),
        voc AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS v FROM tr),
        sc AS (SELECT g.doc_id,
                      ((COALESCE(u.c1, 0) + voc.v) * {1 << 20})
                          // (COALESCE(b.c12, 0) + 1) AS q
               FROM g LEFT JOIN big b USING (w1, w2)
                      LEFT JOIN uni u USING (w1), voc),
        pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                      CAST(sum(length(bin(q)) - 1) AS BIGINT) AS bits_sum
               FROM sc GROUP BY 1)
        SELECT doc_id, n_bigrams, bits_sum,
               (bits_sum * 1000) // n_bigrams AS bits_per_bigram_milli,
               CAST((bits_sum * 1000) // n_bigrams < 24450 AS INT) AS keep
        FROM pd
    """)
def _q_lm_perplexity(spark, sf_dir):
    """CCNet-style LM quality filter (text/lm.py): a bigram model trained
    on the trusted slice doc_id % 4 == 0 scores EVERY document in integer
    milli-bits per bigram (floor-log2-quantized Laplace surprisal — no
    libm, so the oracle matches bit-for-bit). keep_below 24450 splits the
    sf0.01 fixture non-vacuously (measured: train docs average 24302,
    held-out 24484; ~half the corpus on each side of the cut)."""
    from insights_spark.text.lm import bigram_lm_scores

    docs = _t(spark, sf_dir, "documents")
    return bigram_lm_scores(
        docs, F.expr("doc_id % 4 = 0"), keep_below_milli=24450
    )


@query("path_tree", headline=True, oracle="""
        WITH d AS (SELECT doc_id,
                          'h' || (doc_id % 5) || '.test' AS host,
                          doc_id % 3 AS nd,
                          'd' || ((doc_id // 5) % 4) AS s1,
                          'e' || ((doc_id // 20) % 3) AS s2
                   FROM documents),
        nodes AS (SELECT host, u.nd_depth AS depth, u.nd_prefix AS prefix
                  FROM (
                    SELECT host,
                           [{'nd_depth': 0, 'nd_prefix': '/'}]
                           || CASE WHEN nd >= 1 THEN
                                [{'nd_depth': 1, 'nd_prefix': '/' || s1}]
                              ELSE [] END
                           || CASE WHEN nd = 2 THEN
                                [{'nd_depth': 2,
                                  'nd_prefix': '/' || s1 || '/' || s2}]
                              ELSE [] END
                           || [{'nd_depth': CAST(nd + 1 AS INT),
                                'nd_prefix': CASE nd
                                  WHEN 0 THEN '/p' || doc_id
                                  WHEN 1 THEN '/' || s1 || '/p' || doc_id
                                  ELSE '/' || s1 || '/' || s2 || '/p' || doc_id
                                END}] AS l
                    FROM d) t, unnest(t.l) AS n(u))
        SELECT host, CAST(depth AS INT) AS depth, prefix,
               CAST(count(*) AS BIGINT) AS n_pages
        FROM nodes GROUP BY 1, 2, 3
    """)
def _q_path_tree(spark, sf_dir):
    """URL path-hierarchy rollup (text/urls.py path_tree): planted
    hierarchical URLs (host = doc_id%5, 0-2 directory levels by doc_id%3,
    uppercase hosts + query/fragment decorations on every 7th doc to
    exercise the parser) — Spark parses the REAL url strings while the
    oracle derives the expected tree from the planted structure directly:
    an independent ground truth, the host_stats precedent."""
    from insights_spark.text.urls import path_tree

    d = _t(spark, sf_dir, "documents")
    h = F.pmod(F.col("doc_id"), F.lit(5)).cast("string")
    d1 = F.pmod(F.col("doc_id") / F.lit(5), F.lit(4)).cast("int").cast("string")
    d2 = F.pmod(F.col("doc_id") / F.lit(20), F.lit(3)).cast("int").cast("string")
    nd = F.pmod(F.col("doc_id"), F.lit(3))
    url = F.concat(
        F.lit("https://H"), h, F.lit(".TEST/"),
        F.when(nd >= 1, F.concat(F.lit("d"), d1, F.lit("/"))).otherwise(F.lit("")),
        F.when(nd == 2, F.concat(F.lit("e"), d2, F.lit("/"))).otherwise(F.lit("")),
        F.lit("p"), F.col("doc_id").cast("string"),
        F.when(F.pmod(F.col("doc_id"), F.lit(7)) == 0,
               F.lit("?utm=x#top")).otherwise(F.lit("")),
    )
    return path_tree(d.select(url.alias("url")))


# Host rollup: ground truth derived from the PLANTED structure (host
# and page id straight from doc_id), independent of the canonicalizer
# Spark exercises on the messy 10th-doc variants.
@query("host_stats", headline=True, oracle="""
        WITH u AS (SELECT doc_id, n_chars, doc_id % 5 AS h,
                          doc_id // (5 * (doc_id % 5 + 1)) AS page
                   FROM documents),
        c AS (SELECT 'www.site' || h || '.example' AS host,
                     'https://www.site' || h || '.example/p/' || page AS canon,
                     n_chars
              FROM u)
        SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT canon) AS BIGINT) AS n_pages,
               CAST(sum(n_chars) AS BIGINT) AS total_bytes,
               ((count(*) - count(DISTINCT canon)) * 1000) // count(*)
                   AS dup_per_mille,
               CAST(count(*) >= 50 AND
                    ((count(*) - count(DISTINCT canon)) * 1000) // count(*)
                        <= 600 AS INT) AS keep
        FROM c GROUP BY 1
    """)
def _q_host_stats(spark, sf_dir):
    """Host-level crawl rollup (text/urls.py:host_stats). Planted URLs
    spread docs over 5 hosts with a host-dependent mirror factor: host h
    gets page ids doc_id DIV (5·(h+1)), so dup_per_mille climbs ≈ 0 / 500
    / 660 / 750 / 800 across hosts — the keep gate (≤ 600, ≥ 50 docs)
    splits them 2-keep / 3-drop, non-vacuous both ways. Every 10th doc
    wears a MESSY spelling (case-variant host, default port, fragment):
    Spark runs the real canonicalizer on it while the oracle derives the
    clean form from the planted structure — an independent ground truth,
    stronger than replaying the same regexes."""
    from insights_spark.text.urls import host_stats

    h = F.pmod(F.col("doc_id"), F.lit(5))
    page = F.expr("doc_id DIV (5 * (doc_id % 5 + 1))").cast("string")
    clean = F.concat(F.lit("https://www.site"), h.cast("string"),
                     F.lit(".example/p/"), page)
    messy = F.concat(F.lit("HTTPS://www.Site"), h.cast("string"),
                     F.lit(".Example:443/p/"), page, F.lit("#ref"))
    pages = _t(spark, sf_dir, "documents").select(
        F.when(F.pmod(F.col("doc_id"), F.lit(10)) == 9, messy)
        .otherwise(clean).alias("url"),
        F.col("n_chars"),
    )
    return host_stats(pages, bytes_col="n_chars", min_docs=50,
                      max_dup_per_mille=600)


# Shard layout: the oracle's prefix sum is a window function (fine at
# oracle scale; the engine side uses the two-phase distributed scan).
@query("shard_assign", headline=True, oracle="""
        WITH c AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS b,
                          sum(CAST(n_chars AS BIGINT)) OVER (
                              ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
                   FROM documents WHERE n_chars > 0)
        SELECT (cum - b) // 4096 AS shard_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(b) AS BIGINT) AS shard_bytes,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM c GROUP BY 1
    """)
def _q_shard_assign(spark, sf_dir):
    """Equal-byte output-shard layout (text/pack.py:shard_layout): docs in
    doc_id order cut into ~4 KiB shards by exclusive-prefix-sum offset —
    the two-phase distributed scan, never a single-partition window. The
    oracle is the window-function prefix sum, which DuckDB can afford at
    oracle scale."""
    from insights_spark.text.pack import shard_layout

    return shard_layout(_t(spark, sf_dir, "documents"), target_bytes=4096)


@query("pagerank", headline=True, oracle=_pagerank_sql())
def _q_pagerank(spark, sf_dir):
    """Fixed-point int64 PageRank (text/links.py), 5 supersteps over a
    deterministic 3-out link graph on the documents table (dst =
    (doc_id·7919 + 104729·k) mod n, self-links dropped). Integer
    arithmetic end-to-end, so the unrolled-CTE oracle matches bit-for-bit
    — the determinism a float PageRank cannot offer under shuffle."""
    from insights_spark.text.links import pagerank_fixed_point

    docs = _t(spark, sf_dir, "documents")
    nodes = docs.select(F.col("doc_id").alias("id"))
    pr = pagerank_fixed_point(nodes, _doc_graph(docs))
    return pr.select(F.col("id").alias("doc_id"),
                     F.col("score").alias("score_fp"))


@query("cooccur", headline=True, oracle=f"""
        WITH toks AS (SELECT doc_id, unnest(t) AS term,
                             generate_subscripts(t, 1) AS pos
                      FROM (SELECT doc_id, {_TOKENS} AS t FROM documents)),
        heavy AS (SELECT term FROM toks GROUP BY 1 HAVING count(*) >= 50),
        p AS (SELECT doc_id, term, pos FROM toks JOIN heavy USING (term))
        SELECT least(a.term, b.term) AS term_a,
               greatest(a.term, b.term) AS term_b,
               CAST(count(*) AS BIGINT) AS n
        FROM p a JOIN p b ON a.doc_id = b.doc_id
                         AND b.pos > a.pos AND b.pos <= a.pos + 3
        GROUP BY 1, 2
    """)
def _q_cooccur(spark, sf_dir):
    """Windowed co-occurrence counts over the heavy vocabulary
    (text/freq.py:cooccurrence_counts) — exact integer pair counts, the
    PMI/GloVe association primitive; oracle zips unnest with
    generate_subscripts (positions are used only as differences, so the
    0- vs 1-base difference cancels)."""
    from insights_spark.text.freq import cooccurrence_counts

    return cooccurrence_counts(_t(spark, sf_dir, "documents"), window=3)


@query("source_drift", headline=True, oracle=f"""
        WITH toks AS (SELECT source, unnest({_TOKENS}) AS term
                      FROM documents),
        st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c_st
               FROM toks GROUP BY 1, 2),
        t AS (SELECT term, CAST(count(*) AS BIGINT) AS c_t
              FROM toks GROUP BY 1 HAVING count(*) >= 50),
        s AS (SELECT source, CAST(count(*) AS BIGINT) AS c_s
              FROM toks GROUP BY 1),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS c FROM toks),
        cells AS (SELECT g.source, g.term, g.c_s, g.c_t, g.c,
                         COALESCE(st.c_st, 0) AS c_st
                  FROM (SELECT s.source, t.term, s.c_s, t.c_t, tot.c
                        FROM s, t, tot) g
                  LEFT JOIN st ON st.source = g.source AND st.term = g.term)
        SELECT source, term,
               CAST((c::HUGEINT * c_st - c_s::HUGEINT * c_t)
                    * (c::HUGEINT * c_st - c_s::HUGEINT * c_t)
                    AS DECIMAL(38,0)) AS chi2_num,
               CAST(c::HUGEINT * c_s * c_t AS DECIMAL(38,0)) AS chi2_den
        FROM cells
    """)
def _q_source_drift(spark, sf_dir):
    """Per-source vocabulary drift as exact χ² contributions
    (text/freq.py:source_drift_chi2): (source × heavy-term) grid with
    obs=0 cells included, num/den as DECIMAL(38,0) — rational arithmetic
    instead of KL's libm-dependent logarithm."""
    from insights_spark.text.freq import source_drift_chi2

    return source_drift_chi2(_t(spark, sf_dir, "documents"))
