"""Text-analysis and dedup plans over the ``documents`` fixture
(training-data pipeline extensions; SURVEY.md Phase 4)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    STOPWORDS,
    fingerprint64_hex,
    lang_id,
    non_ws_chars,
    quality_score,
    stopword_count,
    token_count,
)
from ..operators.dedup import (
    exact_dedup,
    minhash_lsh_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from ..sources.tables import load_fixture_table

_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


_BPE_PAT = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def q_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full per-document text-analysis profile in ONE scan — five
    feature families that were separate catalog entries each map to
    columns here (all JVM-side expressions, no shuffle at all until the
    final presentation sort):

    - token counting + char stats (whitespace tokenizer) — n_tokens,
      n_chars_actual, avg_token_len;
    - quality scoring (saturating length score blended with
      non-stopword ratio over a fixed wordlist) — n_stopwords, quality;
    - marker-word language-ID heuristic + accuracy flag vs the labeled
      ``lang`` column — pred_lang, is_match;
    - 64-bit md5-prefix fingerprint over normalized text — fingerprint;
    - BPE-ish regex token accounting (alpha runs / digit runs / single
      punctuation; RE2/Java-compatible so the oracle matches) —
      n_bpe_tokens, n_unique_tokens.

    At 100 TB this single-pass shape matters: one scan computes every
    per-doc feature instead of five scans of the corpus."""
    docs = load_fixture_table(spark, sf_dir, "documents")
    n = token_count(F.col("text"))
    pred = lang_id(F.col("text"))
    bpe = F.regexp_extract_all(F.lower("text"), F.lit(_BPE_PAT), 0)
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
        F.round(
            non_ws_chars(F.col("text")).cast("double") / n.cast("double"), 4
        ).alias("avg_token_len"),
        stopword_count(F.col("text")).alias("n_stopwords"),
        quality_score(F.col("text")).alias("quality"),
        "lang",
        pred.alias("pred_lang"),
        (pred == F.col("lang")).alias("is_match"),
        fingerprint64_hex(F.col("text")).alias("fingerprint"),
        F.size(bpe).alias("n_bpe_tokens"),
        F.size(F.array_distinct(bpe)).alias("n_unique_tokens"),
    ).orderBy("doc_id")


# mirrors functions.text.LANG_MARKERS and its tie-break priority order
SQL_DOC_PROFILE = rf"""
WITH feats AS (
  SELECT doc_id, lang, text,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         t -> t IN ({_STOP_SQL}))) AS n_stopwords,
    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t = 'the')) AS c_en,
    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t = 'der')) AS c_de,
    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t = 'el'))  AS c_es,
    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t = 'le'))  AS c_fr,
    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t = 'de'))  AS c_zh
  FROM documents
), scored AS (
  SELECT *,
    CASE WHEN GREATEST(c_en, c_de, c_es, c_fr, c_zh) = 0 THEN 'unknown'
         WHEN c_en = GREATEST(c_en, c_de, c_es, c_fr, c_zh) THEN 'en'
         WHEN c_de = GREATEST(c_en, c_de, c_es, c_fr, c_zh) THEN 'de'
         WHEN c_es = GREATEST(c_en, c_de, c_es, c_fr, c_zh) THEN 'es'
         WHEN c_fr = GREATEST(c_en, c_de, c_es, c_fr, c_zh) THEN 'fr'
         ELSE 'zh' END AS pred_lang
  FROM feats
)
SELECT doc_id, n_tokens,
       length(text) AS n_chars_actual,
       ROUND(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
             / n_tokens, 4) AS avg_token_len,
       n_stopwords,
       ROUND(0.5 * LEAST(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
           + 0.5 * (1.0 - CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE)), 4)
         AS quality,
       lang, pred_lang, pred_lang = lang AS is_match,
       substr(md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')), 1, 16)
         AS fingerprint,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens,
       len(list_distinct(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')))
         AS n_unique_tokens
FROM scored ORDER BY doc_id
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the normalized-text fingerprint,
    keep the lowest doc_id. Shuffles (fingerprint, id) only — never the
    document payload."""
    docs = load_fixture_table(spark, sf_dir, "documents")
    return exact_dedup(docs).orderBy("fingerprint")


SQL_DEDUP_EXACT = r"""
SELECT substr(md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')), 1, 16)
         AS fingerprint,
       MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
FROM documents GROUP BY 1 ORDER BY fingerprint
"""


def q_dedup_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram (3-word-shingle) Jaccard near-dup: top 20 most similar
    within-language pairs. Blocking on lang bounds the pair count; the
    Jaccard itself is exact (|∩|/|∪| over distinct shingle sets)."""
    docs = load_fixture_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "lang", k=3)
    return (
        pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy(F.desc("jaccard"), F.asc("id_a"), F.asc("id_b"))
        .limit(20)
    )


SQL_DEDUP_JACCARD_TOPK = r"""
WITH sets AS (
  SELECT doc_id, lang,
         list_distinct([
            array_to_string(toks[i:i+2], ' ')
            FOR i IN range(1, GREATEST(len(toks) - 2, 1) + 1)
         ]) AS shingles
  FROM (
    SELECT doc_id, lang,
           string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
    FROM documents
  )
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         / (CAST(len(a.shingles) + len(b.shingles) AS DOUBLE)
            - len(list_intersect(a.shingles, b.shingles))), 6) AS jaccard
FROM sets a JOIN sets b ON a.lang = b.lang AND a.doc_id < b.doc_id
ORDER BY jaccard DESC, id_a ASC, id_b ASC LIMIT 20
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 32-bit simhash per doc; ALL pairs (no data-
    column blocking) with Hamming distance ≤ 3, generated via pigeonhole
    prefix-band blocking (4 bands of 8 bits — a pair within distance 3
    must agree exactly on ≥ 1 band, so banded recall is exact and the
    oracle below can be the brute-force definition).

    ``max_bucket=None`` is PINNED: this entry's contract is equality
    with the uncapped brute-force oracle, and at 8-bit band values the
    fixture corpus already concentrates ~15% of sf0.1 docs in one
    (band, val) bucket — 73% of the default cap, one fixture
    regeneration away from the cap silently dropping graded pairs the
    oracle keeps. The capped engine is graded where its buckets are
    provably cold (``image_near_dup_pairs``: 16-bit bands, expected
    bucket size ≪ 1) and scale-pinned by ``test_hot_bucket_guard``'s
    planted corpora."""
    docs = load_fixture_table(spark, sf_dir, "documents")
    return simhash_pairs(
        docs, nbits=32, max_hamming=3, max_bucket=None
    ).orderBy("id_a", "id_b")


# Mirrors operators.dedup.simhash64: per token h = first 15 md5 hex
# chars as int; bit j vote = +1 if bit set else -1; simhash bit j = 1
# iff votes > 0. Token order/count semantics identical (split on \s+ of
# normalized text, duplicates kept). The oracle is the brute-force
# definition; the Spark side reaches the same set through banding.
SQL_DEDUP_SIMHASH = r"""
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS ts
  FROM documents
), hashes AS (
  SELECT doc_id,
         list_transform(ts, t -> CAST(CONCAT('0x', substr(md5(t), 1, 15)) AS BIGINT)) AS hs
  FROM toks
), sim AS (
  SELECT doc_id,
    (SELECT SUM(CASE WHEN len(list_filter(hs, h -> (h >> j) & 1 = 1)) * 2 > len(hs)
                     THEN 1 << j ELSE 0 END)
     FROM range(0, 32) t(j)) AS simhash
  FROM hashes
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY id_a, id_b
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup (shingle → 32-hash signature → 8 bands →
    bucket join → exact-Jaccard verify ≥ 0.3). The whole pipeline is
    deterministic integer arithmetic (md5-derived shingle hashes, LCG
    permutation coefficients, min over exact int64 products), so the
    DuckDB oracle below replays candidate generation AND verify
    bit-for-bit — this entry is fully value-compared, not rows-only."""
    docs = load_fixture_table(spark, sf_dir, "documents")
    return minhash_lsh_dedup_pairs(
        docs, threshold=0.3, num_hashes=32, bands=8, k=3
    ).orderBy("id_a", "id_b")


# operators.dedup._lcg_ints(32, seed=42) / (32, seed=1337) — baked as
# literals so the oracle is self-contained.
_MINHASH_A = "[1250496028, 1116302265, 1000676754, 1668674807, 908095736, 71666533, 896336334, 1736731267, 1314989460, 1535244753, 391441866, 1108520143, 1206814704, 534045437, 1974836614, 238077915, 1413854220, 705377001, 397905154, 1440974759, 1972995560, 282367381, 881784894, 1823504435, 879663492, 70219521, 1215814458, 1726604671, 318196448, 1939145517, 1030877686, 968547211]"
_MINHASH_B = "[78628735, 1460962528, 934458669, 1985133558, 721214859, 1004965884, 1479276569, 1793073778, 542328919, 1812213976, 569671109, 2097378478, 1926468579, 502334324, 211661361, 1821355690, 1772591, 1657693136, 895730013, 160140390, 1347403067, 309816812, 1863948105, 1672317410, 367817479, 1566375368, 1691672565, 1972888350, 1582086547, 539078500, 995755873, 1205113882]"

# Mirrors operators.dedup end to end: 60-bit md5 shingle hashes (verify
# sets), 31-bit masked copies (signature input), sig[i] = min (a_i*h +
# b_i) mod (2^31 - 1), 8 bands of 4 signature rows joined on equality,
# exact Jaccard >= 0.3 on the 60-bit sets.
SQL_DEDUP_MINHASH_LSH = rf"""
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS ts
  FROM documents
), shingled AS (
  SELECT doc_id,
         list_distinct([array_to_string(ts[i:i+2], ' ')
                        FOR i IN range(1, GREATEST(len(ts) - 2, 1) + 1)]) AS sstr
  FROM toks
), sets AS (
  SELECT doc_id,
         list_distinct(list_transform(sstr,
           s -> CAST(CONCAT('0x', substr(md5(s), 1, 15)) AS BIGINT))) AS sh
  FROM shingled
), sets31 AS (
  SELECT doc_id,
         list_distinct(list_transform(sh, h -> h & 2147483647)) AS hs
  FROM sets
), hrows AS (
  -- vectorized signature computation: unnest to rows and cross join the
  -- 32 coefficient rows (columnar modmul + GROUP BY MIN is ~40x faster
  -- than per-list interpreted lambdas at this width)
  SELECT doc_id, UNNEST(hs) AS h FROM sets31
), coef AS (
  SELECT i, ({_MINHASH_A})[i] AS a, ({_MINHASH_B})[i] AS b
  FROM range(1, 33) t(i)
), minvals AS (
  SELECT doc_id, i, MIN((a * h + b) % 2147483647) AS mv
  FROM hrows CROSS JOIN coef
  GROUP BY doc_id, i
), banded AS (
  SELECT doc_id, (i - 1) // 4 AS band,
         string_agg(CAST(mv AS VARCHAR), '_' ORDER BY i) AS bucket
  FROM minvals
  GROUP BY doc_id, (i - 1) // 4
), cands AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM banded x JOIN banded y ON x.band = y.band AND x.bucket = y.bucket
  WHERE x.doc_id < y.doc_id
), verified AS (
  SELECT c.id_a, c.id_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
  FROM cands c
  JOIN sets a ON a.doc_id = c.id_a
  JOIN sets b ON b.doc_id = c.id_b
)
SELECT id_a, id_b, jaccard FROM verified
WHERE jaccard >= 0.3
ORDER BY id_a, id_b
"""


def q_multimodal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing end-to-end, metadata + decode in one
    result: wrap the text payload as an opaque binary media column with
    a typed (mime, n_bytes, source) metadata struct, then run the
    Arrow-batched ``mapInPandas`` feature extractor with the
    deterministic fake decode (real decode needs PIL/cv2 — absent here;
    the Spark-side schema/batching/partition shape is the real thing
    under test). The fake derives width/height from the payload's
    sha256, so DuckDB can mirror it. The mime metadata column rides
    through the extractor — the scale pattern where (mime, size)
    filters prune BEFORE the expensive decode."""
    from ..operators.multimodal import extract_image_features, to_media_table

    docs = load_fixture_table(spark, sf_dir, "documents")
    media = to_media_table(docs, "doc_id", "text", source="documents", mime="text/plain")
    return (
        extract_image_features(media, fake_decode=True)
        .select(
            "media_id",
            "mime",
            "n_bytes",
            "width",
            "height",
            "sha256",
        )
        .orderBy("media_id")
    )


SQL_MULTIMODAL_PROFILE = """
WITH h AS (
  -- sha256(VARCHAR) hashes the string's UTF-8 bytes — identical to
  -- hashing the binary payload Spark-side.
  SELECT doc_id AS media_id, sha256(text) AS digest,
         octet_length(encode(text)) AS n_bytes,
         CAST(CONCAT('0x', substr(sha256(text), 1, 8)) AS BIGINT) AS seed
  FROM documents
)
SELECT media_id,
       'text/plain' AS mime,
       CAST(n_bytes AS BIGINT) AS n_bytes,
       CAST(64 + seed % 1024 AS INTEGER) AS width,
       CAST(64 + (seed >> 10) % 1024 AS INTEGER) AS height,
       digest AS sha256
FROM h ORDER BY media_id
"""


def q_pdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF text extraction hash-graded end-to-end (round-13 rotation):
    every fixture document is serialized TWICE by the deterministic
    writer rigs — the classic PDF 1.4 form (`operators/pdf.py::
    build_simple_pdf`: per-page Flate content streams, xref table,
    `trailer` keyword) and its PDF 1.5 twin (`build_objstm_pdf`: all
    dicts packed in a `/Type /ObjStm` container, xref STREAM, no
    trailer keyword — the majority shape of real-world PDFs) — then
    the REAL Arrow-batched operator (`extract_pdf_text`) parses both
    back. Two pages per doc exercise the page-tree walk + form-feed
    join, and page 2's parenthesized id + md5 prefix exercise string
    escaping and multi-line Td breaks.

    The DuckDB oracle recomputes the EXPECTED extraction straight from
    the fixture text (text ‖ page-2 lines with the same md5), so the
    whole round trip — writer, ObjStm packing, Flate, tokenizer,
    escape handling — is value-compared, not rows-only. ``media_id =
    doc_id*2 + variant`` keeps the generator a single pass."""
    from ..operators.pdf import (
        build_objstm_pdf,
        build_simple_pdf,
        extract_pdf_text,
    )

    docs = load_fixture_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )

    def render(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                sha = hashlib.md5(text.encode("utf-8")).hexdigest()[:8]
                pages = [[text], [f"doc ({did})", f"sha {sha}"]]
                rows.append(
                    {"media_id": did * 2, "payload": build_simple_pdf(pages)}
                )
                rows.append(
                    {
                        "media_id": did * 2 + 1,
                        "payload": build_objstm_pdf(pages),
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = docs.mapInPandas(render, "media_id long, payload binary")
    out = extract_pdf_text(media)
    return (
        out.select(
            F.expr("media_id div 2").alias("doc_id"),
            F.when(F.col("media_id") % 2 == 0, F.lit("classic"))
            .otherwise(F.lit("objstm"))
            .alias("variant"),
            "n_pages",
            "extracted",
            "text",
        )
        .orderBy("doc_id", "variant")
    )


SQL_PDF_ROUNDTRIP = """
WITH exp AS (
  SELECT doc_id,
         text || chr(10) || chr(12) ||
         'doc (' || CAST(doc_id AS VARCHAR) || ')' || chr(10) ||
         'sha ' || substr(md5(text), 1, 8) || chr(10) AS text
  FROM documents
), v(variant) AS (SELECT 'classic' UNION ALL SELECT 'objstm')
SELECT exp.doc_id, v.variant,
       CAST(2 AS INTEGER) AS n_pages,
       TRUE AS extracted,
       exp.text
FROM exp CROSS JOIN v
ORDER BY doc_id, variant
"""


def q_image_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup detection hash-graded END TO END (round-14
    rotation #5, the media tier's ``pdf_roundtrip``): every 5th
    fixture document plants TWO deterministic 9×8 grayscale images —
    a BMP base whose pixel (r, c) is the first md5 byte of
    ``"{doc_id}:{r}:{c}"``, and a PNG twin with pixel (3, 4) shifted
    by +128 mod 256 (flips at most the two dHash bits that gradient
    touches, so every twin pair lands within Hamming ≤ 2) — then the
    REAL pipeline runs: container sniff → native BMP/PNG pixel decode
    → integer dHash (``image_phash``: BT.601 luma votes, identity
    nearest-resample at 9×8, row-major LSB packing) → the
    hot-bucket-capped Hamming-banded pair engine
    (``dedup.hamming_pairs``) → exact-Hamming verify.

    The DuckDB oracle re-derives every dHash ARITHMETICALLY from the
    same md5 pixel formula (no image code at all) and brute-forces the
    full Hamming-≤3 ball, so decode, luma, bit packing, banding recall
    and the verify are all value-compared — banding's pigeonhole
    recall is exact, so Spark's banded output must equal the oracle's
    brute force bit-for-bit. Cross-codec by construction: the base is
    BMP, the twin PNG, and they may only pair because the HASH sees
    pixels, not bytes. ``media_id = doc_id*2 + variant``."""
    from ..operators.fingerprint import IMAGE, fp_dup_pairs
    from ..operators.multimodal import encode_bmp, encode_png

    ids = load_fixture_table(spark, sf_dir, "documents").select(
        "doc_id"
    ).filter(F.col("doc_id") % 5 == 0)

    def render(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        def val(d: int, r: int, c: int) -> int:
            return int(
                hashlib.md5(f"{d}:{r}:{c}".encode()).hexdigest()[:2], 16
            )

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                px = np.zeros((8, 9, 3), dtype=np.uint8)
                for r in range(8):
                    for c in range(9):
                        px[r, c, :] = val(did, r, c)
                rows.append(
                    {"media_id": did * 2, "payload": encode_bmp(px)}
                )
                twin = px.copy()
                twin[3, 4, :] = (int(px[3, 4, 0]) + 128) % 256
                rows.append(
                    {"media_id": did * 2 + 1, "payload": encode_png(twin)}
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = ids.mapInPandas(render, "media_id long, payload binary")
    return fp_dup_pairs(media, IMAGE, max_hamming=3).orderBy("id_a", "id_b")


SQL_IMAGE_NEAR_DUP_PAIRS = """
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
imgs AS (
  SELECT doc_id * 2 AS media_id, doc_id, 0 AS variant FROM ids
  UNION ALL
  SELECT doc_id * 2 + 1, doc_id, 1 FROM ids
),
px AS (
  SELECT i.media_id, t1.r, t2.c,
         CASE WHEN i.variant = 1 AND t1.r = 3 AND t2.c = 4
              THEN (CAST(CONCAT('0x', substr(md5(CONCAT(i.doc_id, ':', t1.r, ':', t2.c)), 1, 2)) AS INT) + 128) % 256
              ELSE CAST(CONCAT('0x', substr(md5(CONCAT(i.doc_id, ':', t1.r, ':', t2.c)), 1, 2)) AS INT)
         END AS v
  FROM imgs i, range(8) t1(r), range(9) t2(c)
),
-- dhash bit (r, c) = 1 iff v(r, c+1) > v(r, c); grayscale pixels make
-- the 1000x BT.601 luma compare identical to the raw pixel compare
bits AS (
  SELECT a.media_id, a.r * 8 + a.c AS bit
  FROM px a JOIN px b ON b.media_id = a.media_id AND b.r = a.r AND b.c = a.c + 1
  WHERE a.c < 8 AND b.v > a.v
),
hashes AS (
  SELECT i.media_id,
         COALESCE(SUM(CAST(1 AS HUGEINT) << CAST(b.bit AS INT)), 0) AS h
  FROM imgs i LEFT JOIN bits b ON b.media_id = i.media_id
  GROUP BY i.media_id
),
signed AS (  -- two's complement, matching the operator's LONG phash
  SELECT media_id,
         CAST(CASE WHEN h >= 9223372036854775808 THEN h - 18446744073709551616
                   ELSE h END AS BIGINT) AS hs
  FROM hashes
)
SELECT x.media_id AS id_a, y.media_id AS id_b,
       CAST(bit_count(xor(x.hs, y.hs)) AS INTEGER) AS hamming
FROM signed x JOIN signed y ON x.media_id < y.media_id
WHERE bit_count(xor(x.hs, y.hs)) <= 3
ORDER BY id_a, id_b
"""


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for training pipelines: fixed-size token
    windows with overlap (stride < size), exploded to one row per
    chunk. Pure array ops (slice over a token sequence) — the chunker
    runs inside the scan stage, no shuffle until a downstream agg."""
    docs = load_fixture_table(spark, sf_dir, "documents")
    size, stride = 64, 48
    # project the token array to a bound column BEFORE the transform:
    # referencing an inline split inside the lambda re-tokenizes the
    # doc per chunk (no CSE inside HOF lambdas — O(len²/stride))
    tokd = docs.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("_toks")
    )
    toks = F.col("_toks")
    n = F.size(toks)
    n_chunks = F.greatest(
        F.lit(1), F.ceil((n - F.lit(size)) / F.lit(stride)).cast("int") + 1
    )
    chunk_idx = F.sequence(F.lit(0), n_chunks - 1)
    chunks = F.transform(
        chunk_idx,
        lambda i: F.concat_ws(
            " ", F.slice(toks, (i * stride + 1).cast("int"), size)
        ),
    )
    return (
        tokd.select("doc_id", F.posexplode(chunks).alias("chunk_id", "chunk"))
        .select(
            "doc_id",
            "chunk_id",
            F.size(F.split("chunk", " ")).alias("chunk_tokens"),
        )
        .orderBy("doc_id", "chunk_id")
    )


SQL_DOC_CHUNKS = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
  FROM documents
), chunked AS (
  SELECT doc_id,
         GREATEST(1, CAST(CEIL((len(ts) - 64) / 48.0) AS INTEGER) + 1) AS nc,
         ts
  FROM toks
), exploded AS (
  SELECT doc_id,
         UNNEST([{'cid': i - 1,
                  'ct': len(ts[(i - 1) * 48 + 1
                               : LEAST((i - 1) * 48 + 64, len(ts))])}
                 FOR i IN range(1, nc + 1)]) AS s
  FROM chunked
)
SELECT doc_id, s.cid AS chunk_id, s.ct AS chunk_tokens
FROM exploded ORDER BY doc_id, chunk_id
"""


def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test split (the reproducible
    alternative to rand()-sampling): md5(doc_id) mod 100 buckets →
    80/10/10. Engine-independent, stable under re-runs and re-partitioning
    — essential so a 100 TB corpus splits identically everywhere."""
    docs = load_fixture_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"))
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("split")
    )


SQL_TRAIN_TEST_SPLIT = """
WITH b AS (
  SELECT CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 100 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
       COUNT(*) AS n_docs
FROM b GROUP BY 1 ORDER BY split
"""


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build: explode tokens → global counts → top-200 by
    frequency with rank ids. The explode+count is the canonical
    partial-agg pattern (map-side combine collapses within-partition
    repeats before the shuffle); the final top-k is TakeOrdered."""
    docs = load_fixture_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    counts = (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    return (
        counts.orderBy(F.desc("freq"), F.asc("token"))
        .limit(200)
        .withColumn("token_id", F.row_number().over(w) - 1)
    )


SQL_VOCAB_TOPK = r"""
WITH counts AS (
  SELECT t.token, COUNT(*) AS freq
  FROM documents, UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS t(token)
  GROUP BY 1
)
SELECT token, freq,
       ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) - 1 AS token_id
FROM counts ORDER BY freq DESC, token ASC LIMIT 200
"""


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: pairwise Jaccard edges (≥ 0.3, within
    language) → iterative min-label connected components → one row per
    doc with its cluster id (keep min-id doc per cluster to dedup).
    The oracle is a recursive CTE computing the same transitive
    closure — a strong cross-check that the distributed iteration
    reaches the exact fixpoint."""
    from ..operators.dedup import connected_components_min_label

    docs = load_fixture_table(spark, sf_dir, "documents")
    edges = (
        ngram_jaccard_pairs(docs, "lang", k=3)
        .filter(F.col("jaccard") >= 0.3)
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    # nodes=None: label-propagate over EDGE-INCIDENT nodes only — docs
    # in no pair are singletons and the >1 filter below discards them
    # anyway, so at corpus scale the loop shuffles the duplicate
    # graph, never the corpus
    out = connected_components_min_label(edges)
    return (
        out.groupBy("cluster_id")
        .agg(F.count("*").alias("cluster_size"))
        .filter(F.col("cluster_size") > 1)
        .orderBy("cluster_id")
    )


SQL_DUP_CLUSTERS = r"""
WITH sets AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(
           [array_to_string(toks[i:i+2], ' ')
            FOR i IN range(1, GREATEST(len(toks) - 2, 1) + 1)],
           s -> CAST(CONCAT('0x', substr(md5(s), 1, 15)) AS BIGINT)
         )) AS sh
  FROM (
    SELECT doc_id, lang,
           string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
    FROM documents
  )
), pairs AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM sets a JOIN sets b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.3
), sym AS (
  SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
), reach AS (
  WITH RECURSIVE r(node, lbl) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.dst, r.lbl FROM r JOIN sym e ON e.src = r.node
  )
  SELECT node, MIN(lbl) AS cluster_id FROM r GROUP BY node
)
SELECT cluster_id, COUNT(*) AS cluster_size
FROM reach GROUP BY cluster_id HAVING COUNT(*) > 1
ORDER BY cluster_id
"""


# Per-language target mixture for the deterministic sampler: weights are
# the data-mixing knob a pretraining pipeline tunes (e.g. upsample
# low-resource languages); quotas = round(weight x total).
_MIXTURE_WEIGHTS = {"en": 0.4, "zh": 0.2, "es": 0.2, "de": 0.1, "fr": 0.1}
_MIXTURE_TOTAL = 200


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mixture sampling (training-data mixing): take a fixed
    per-language quota of documents, chosen by hash order so the sample
    is uniform-ish, deterministic, and identical across engines/runs —
    no RNG, so it is reproducible and oracle-checkable, unlike
    `df.sample`. A stratum smaller than its quota contributes all rows.

    Scale: TWO-PHASE per-stratum top-N, so a hot stratum (`en` is most
    of a web corpus) never serializes its full rank into one task:

    1. pre-rank per (lang, input-partition) — the window key includes
       ``spark_partition_id()``, so the hot stratum's rank work spreads
       across as many tasks as it has input partitions; keep only local
       rank ≤ quota. The global top-quota by any total order is a
       subset of the union of per-partition top-quotas (each survivor
       beats everything below it locally), so this prunes without loss.
    2. exact row_number per lang over the survivors — bounded at
       quota × n_partitions rows per stratum (constants), so the
       single-task-per-stratum window is O(quota·P), independent of
       corpus size. Ranks ≤ quota are unchanged by the pruning, so the
       output is identical to the one-shot window the oracle runs.

    The hash-order trick is the same one `train_test_split` uses for
    leakage-free determinism."""
    docs = load_fixture_table(spark, sf_dir, "documents")
    sort_key = F.md5(F.col("doc_id").cast("string"))
    quota = F.lit(0)
    for lang, wt in _MIXTURE_WEIGHTS.items():
        quota = F.when(F.col("lang") == lang, int(round(wt * _MIXTURE_TOTAL))).otherwise(
            quota
        )
    w_local = Window.partitionBy("lang", "_pid").orderBy(sort_key, F.asc("doc_id"))
    survivors = (
        docs.select("doc_id", "lang", F.spark_partition_id().alias("_pid"))
        .withColumn("_local_rank", F.row_number().over(w_local))
        .filter(F.col("_local_rank") <= quota)
    )
    w_global = Window.partitionBy("lang").orderBy(sort_key, F.asc("doc_id"))
    return (
        survivors.select("doc_id", "lang")
        .withColumn("rn", F.row_number().over(w_global))
        .filter(F.col("rn") <= quota)
        .orderBy("lang", "rn")
    )


SQL_MIXTURE_SAMPLE = """
WITH ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id ASC) AS rn
  FROM documents
)
SELECT doc_id, lang, rn
FROM ranked
WHERE rn <= CASE lang WHEN 'en' THEN 80 WHEN 'zh' THEN 40 WHEN 'es' THEN 40
                      WHEN 'de' THEN 20 WHEN 'fr' THEN 20 ELSE 0 END
ORDER BY lang, rn
"""


def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 characteristic terms per document: explode tokens →
    per-doc term counts (tf) → document frequency (df) → idf = ln(N/df)
    → top-3 per doc by tf·idf with a token tiebreak.

    Scale: two shuffles total — (doc_id, token) counts then token df;
    the df side is a token-keyed aggregate (vocabulary-sized, tiny) and
    is broadcast back onto the tf rows, so the corpus-sized side
    shuffles once. The per-doc top-3 is a bounded window over rows
    already grouped by doc. ln() applied to the same integer ratio on
    both engines is bit-identical; the score is rounded to 6 anyway."""
    docs = load_fixture_table(spark, sf_dir, "documents")
    # N stays IN the plan (round 15): the old driver-side docs.count()
    # was a whole extra job + scan per invocation; a broadcast 1-row
    # aggregate joins the same scalar in, and cast-to-double division
    # feeds log() the identical float64 — values bit-equal (the oracle
    # already computes N as a CTE).
    n = docs.agg(F.count("*").alias("_n_docs"))
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    scored = tf.join(F.broadcast(df), "token").join(F.broadcast(n)).select(
        "doc_id",
        "token",
        "tf",
        "df",
        F.round(
            F.col("tf")
            * F.log(F.col("_n_docs").cast("double") / F.col("df")),
            6,
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= 3)
        .orderBy("doc_id", "term_rank")
    )


SQL_TFIDF_TOPTERMS = r"""
WITH toks AS (
  SELECT doc_id, t.token
  FROM documents,
       UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS t(token)
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), df AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df USING (token) CROSS JOIN n
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS term_rank
  FROM scored
)
SELECT doc_id, token, tf, df, tfidf, term_rank
FROM ranked WHERE term_rank <= 3
ORDER BY doc_id, term_rank
"""
