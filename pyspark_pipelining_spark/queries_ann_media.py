"""Binary-quantization ANN, mergeable-HLL sliding windows, and binary
container sniffing — registered round 6 (staged through round 5 to
honor the driver's 50-slot snapshot freeze; see CLAUDE.md)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark_pipelining_spark.operators.dedup import duck_hash60
from pyspark_pipelining_spark.operators.similarity import duck_cosine, duck_rank
from pyspark_pipelining_spark.queries_llm import DIM, N_QUERIES, TOPK, _query_vecs
from pyspark_pipelining_spark.sources.registry import load_table


def q_sim_bq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization Hamming top-k
    (operators/similarity.bq_hamming_topk): sign-bit words, exact
    Hamming ranking."""
    from pyspark_pipelining_spark.operators.similarity import bq_hamming_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return bq_hamming_topk(emb, _query_vecs(spark, sf_dir), k=TOPK)


def _sql_bq_word(vec_expr: str) -> str:
    """The identical sign-bit fold in DuckDB (single 64-dim word).

    Bit 63 needs special handling: DuckDB's checked ``1 << 63``
    overflows signed int64, so the top bit is the min-int64 constant
    (what Spark's ``shiftleft(1, 63)`` wraps to).  Positive-match on
    ``> 0`` so a NULL element leaves the bit UNSET, exactly like
    Spark's ``element_at(v, i+1) > 0`` (NULL predicate → filtered)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f" list_transform(range(0, 64),"
        f" i -> CASE WHEN {vec_expr}[i + 1] > 0 THEN"
        f" (CASE WHEN i = 63 THEN CAST(-9223372036854775807 - 1 AS BIGINT)"
        f" ELSE (CAST(1 AS BIGINT) << i) END)"
        f" ELSE CAST(0 AS BIGINT) END)),"
        f" (acc, x) -> xor(acc, x))"
    )


SQL_SIM_BQ_TOPK = f"""
WITH corpus AS (
    SELECT vec_id, {_sql_bq_word('embedding')} AS bq FROM embeddings
),
q AS (
    SELECT vec_id AS query_id, {_sql_bq_word('embedding')} AS qbq
    FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
    SELECT q.query_id, c.vec_id,
           CAST(bit_count(xor(c.bq, q.qbq)) AS INTEGER) AS hamming
    FROM corpus c, q WHERE c.vec_id != q.query_id
)
SELECT query_id, vec_id, hamming,
       {duck_rank('hamming ASC, vec_id ASC')}
FROM scored
QUALIFY rank <= {TOPK}
ORDER BY query_id, rank
"""


BQ_SHORTLIST = 50


def q_sim_bq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BQ two-stage search: Hamming shortlist, exact-cosine rerank
    (operators/similarity.bq_rerank_topk)."""
    from pyspark_pipelining_spark.operators.similarity import bq_rerank_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return bq_rerank_topk(
        emb, _query_vecs(spark, sf_dir), k=TOPK, shortlist=BQ_SHORTLIST
    )


#: the compressed rungs' refine stage over a ``short`` (query_id,
#: vec_id) shortlist: exact cosine and top-k, as
#: ``similarity._rerank_cosine``
_SQL_RERANK = f"""q AS (
    SELECT vec_id AS query_id, embedding AS query_vec
    FROM embeddings WHERE vec_id < {N_QUERIES}
),
rer AS (
    SELECT s.query_id, s.vec_id, {duck_cosine()} AS cosine
    FROM short s
    JOIN embeddings e ON s.vec_id = e.vec_id
    JOIN q ON s.query_id = q.query_id
)
SELECT query_id, vec_id, cosine,
       {duck_rank()}
FROM rer
QUALIFY rank <= {TOPK}
ORDER BY query_id, rank"""


SQL_SIM_BQ_RERANK = f"""
WITH corpus AS (
    SELECT vec_id, {_sql_bq_word('embedding')} AS bq FROM embeddings
),
qb AS (
    SELECT vec_id AS query_id, {_sql_bq_word('embedding')} AS qbq
    FROM embeddings WHERE vec_id < {N_QUERIES}
),
short AS (
    SELECT qb.query_id, c.vec_id
    FROM corpus c, qb WHERE c.vec_id != qb.query_id
    QUALIFY row_number() OVER (
        PARTITION BY qb.query_id
        ORDER BY bit_count(xor(c.bq, qb.qbq)) ASC, c.vec_id ASC) <= {BQ_SHORTLIST}
),
{_SQL_RERANK}
"""


HLL_WINDOW_DAYS = 7


def q_hll_window_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day sliding unique users from mergeable daily HLL registers
    (operators/sketch.hll_windowed_distinct)."""
    from pyspark_pipelining_spark.operators.sketch import hll_windowed_distinct

    ev = load_table(spark, sf_dir, "events")
    return hll_windowed_distinct(ev, "ts", "user_id", window_days=HLL_WINDOW_DAYS)


def _sql_hll_window() -> str:
    from pyspark_pipelining_spark.operators.sketch import HLL_M, HLL_NUM, HLL_W

    return f"""
WITH hashed AS (
    SELECT CAST(ts AS DATE) AS day,
           {duck_hash60('CAST(user_id AS VARCHAR)')} AS h
    FROM events
),
regs AS (
    SELECT day, h % {HLL_M} AS bucket,
           CASE WHEN h // {HLL_M} = 0 THEN {HLL_W + 1}
                ELSE {HLL_W + 1} - length(bin(h // {HLL_M})) END AS rho
    FROM hashed
),
daily AS (SELECT day, bucket, max(rho) AS r FROM regs GROUP BY day, bucket),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
spans AS (
    SELECT unnest(generate_series(day - {HLL_WINDOW_DAYS - 1}, day, INTERVAL 1 DAY))::DATE
               AS window_start,
           bucket, r
    FROM daily
),
merged AS (SELECT window_start, bucket, max(r) AS r FROM spans GROUP BY 1, 2),
agg AS (
    SELECT window_start,
           sum(CAST(1 AS BIGINT) << CAST({HLL_W + 1} - r AS INTEGER)) AS s_present,
           count(*) AS n_present
    FROM merged GROUP BY window_start
),
est AS (
    SELECT window_start,
           {HLL_M} - n_present AS v,
           {HLL_NUM} / CAST(s_present + ({HLL_M} - n_present)
                            * (CAST(1 AS BIGINT) << {HLL_W + 1}) AS DOUBLE) AS raw
    FROM agg
)
SELECT e.window_start,
       (e.window_start + INTERVAL {HLL_WINDOW_DAYS - 1} DAY)::DATE AS window_end,
       round(CASE WHEN raw <= 2.5 * {HLL_M} AND v > 0
                  THEN {float(HLL_M)} * ln({float(HLL_M)} / CAST(v AS DOUBLE))
                  ELSE raw END, 6) AS est_distinct
FROM est e, bounds b
WHERE e.window_start >= b.d0
  AND e.window_start + INTERVAL {HLL_WINDOW_DAYS - 1} DAY <= b.d1
ORDER BY e.window_start
"""


SQL_HLL_WINDOW_USERS = _sql_hll_window()


def q_media_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip of the JVM binary header pipeline: documents →
    synthesized PNG payloads → sniffed mime + dims
    (operators/multimodal.sniff_headers)."""
    from pyspark_pipelining_spark.operators.multimodal import (
        documents_as_media,
        sniff_headers,
        synthesize_png_payload,
    )

    docs = load_table(spark, sf_dir, "documents")
    wrapped = synthesize_png_payload(documents_as_media(docs))
    return sniff_headers(wrapped).orderBy("media_id")


# The payload derives deterministically from documents, so the oracle
# states the EXPECTED parse results from the same metadata arithmetic
# (a genuine round-trip check: any header/parse bug diverges).
SQL_MEDIA_SNIFF = """
SELECT doc_id AS media_id,
       'image/png' AS sniffed_mime,
       CAST(n_chars % 640 AS BIGINT) AS sniffed_width,
       CAST(n_chars % 480 AS BIGINT) AS sniffed_height,
       CAST(NULL AS BIGINT) AS sniffed_sample_rate
FROM documents
ORDER BY media_id
"""


def q_media_wav_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little-endian half of the sniffing round-trip: documents →
    synthesized RIFF/WAVE payloads → sniffed sample rate
    (operators/multimodal.synthesize_wav_payload + sniff_headers)."""
    from pyspark_pipelining_spark.operators.multimodal import (
        documents_as_media,
        sniff_headers,
        synthesize_wav_payload,
    )

    docs = load_table(spark, sf_dir, "documents")
    wav = synthesize_wav_payload(documents_as_media(docs))
    return sniff_headers(wav).orderBy("media_id")


SQL_MEDIA_WAV_SNIFF = """
SELECT doc_id AS media_id,
       'audio/wav' AS sniffed_mime,
       CAST(NULL AS BIGINT) AS sniffed_width,
       CAST(NULL AS BIGINT) AS sniffed_height,
       CAST(8000 + doc_id % 40000 AS BIGINT) AS sniffed_sample_rate
FROM documents
ORDER BY media_id
"""


QUERIES_ANN_MEDIA = {
    "sim_bq_topk": q_sim_bq_topk,
    "sim_bq_rerank": q_sim_bq_rerank,
    "hll_window_users": q_hll_window_users,
    "media_sniff": q_media_sniff,
    "media_wav_sniff": q_media_wav_sniff,
}

ORACLES_ANN_MEDIA = {
    "sim_bq_topk": SQL_SIM_BQ_TOPK,
    "sim_bq_rerank": SQL_SIM_BQ_RERANK,
    "hll_window_users": SQL_HLL_WINDOW_USERS,
    "media_sniff": SQL_MEDIA_SNIFF,
    "media_wav_sniff": SQL_MEDIA_WAV_SNIFF,
}


# ---------------------------------------------------------------------------
# Round-9: sample-level PCM math on real WAV bytes (codec-free multimodal
# compute under the hard signal — the r08 verdict's read_blob follow-up)
# ---------------------------------------------------------------------------

from pyspark_pipelining_spark.sources.registry import fixtures_dir as _fixtures_dir
from pyspark_pipelining_spark.sources.registry import sql_str_literal

#: Committed deterministic PCM16 fixtures (tools/gen_wav_fixtures.py) —
#: path derived from the package location (sources.registry.fixtures_dir)
#: so the oracle SQL below carries the right absolute path wherever the
#: repo sits.
WAV_FIXTURE_DIR = _fixtures_dir("audio")

WAV_WINDOW = 256

#: the ``file_name`` column of every ``read_blob`` oracle: the path's
#: last component, as Spark's binaryFile readers name it
FILE_NAME = "regexp_extract(filename, '([^/]+)$', 1) AS file_name"


def _le_hex(h: str, off: int | str, n: int, typ: str) -> str:
    """The ``n``-byte little-endian integer at 0-based offset ``off``
    (an int, or an SQL expression) of the hex text ``h``, cast to
    ``typ``.  DuckDB parses ``'0x…'`` big-endian, so the byte pairs are
    read last byte first."""
    at = [off + 2 * i + 1 if isinstance(off, int) else f"{off} + {2 * i + 1}" for i in range(n)]
    pairs = f"substring({h}, {at[-1]}, 2)"
    for pos in reversed(at[:-1]):
        pairs += f" || substring({h}, {pos}, 2)"
    return f"CAST('0x' || {pairs} AS {typ})"


def _s16(off: str) -> str:
    """The signed PCM16 sample at hex offset ``off`` of a window's
    ``chunk``."""
    u = _le_hex("chunk", off, 2, "BIGINT")
    return f"{u} - CASE WHEN {u} >= 32768 THEN 65536 ELSE 0 END"


def _sql_wav_chunks(fixture_dir: str, ws: int, channels: int) -> str:
    """The ``wav``, ``hdr``, ``wins`` and ``chunks`` CTEs every WAV
    oracle starts with, mirroring ``multimodal._wav_window_chunks``:
    the canonical 44-byte RIFF/WAVE header of each file under
    ``fixture_dir`` (size-gated like the Spark scan), then one row per
    ``ws``-frame window of ``channels``-channel PCM16 data, carrying
    that window's hex ``chunk``."""
    from pyspark_pipelining_spark.operators.multimodal import (
        WAV_HEX_SAFE_FILE_BYTES,
        WAV_INT32_SAFE_DATA_BYTES,
    )

    # mirror of the operator's pre-hex size gate (tested on the cheap
    # length metadata column BEFORE hexing, see multimodal.py — only
    # the resulting ROW SET needs mirroring here; DuckDB's BIGINT
    # positions and blob handling have no int32/array-ceiling hazard)
    cap = min(WAV_INT32_SAFE_DATA_BYTES + 44, WAV_HEX_SAFE_FILE_BYTES)
    fb = 2 * channels  # bytes per frame
    return f"""wav AS (
    SELECT {FILE_NAME},
           octet_length(content) AS n_bytes,
           hex(content) AS h
    FROM read_blob('{sql_str_literal(fixture_dir)}/*.wav')
    WHERE octet_length(content) <= {cap}
),
hdr AS (
    SELECT file_name, n_bytes, h,
           {_le_hex("h", 40, 2, "INT")} AS audio_fmt,
           {_le_hex("h", 44, 2, "INT")} AS channels,
           {_le_hex("h", 48, 4, "INT")} AS sample_rate,
           {_le_hex("h", 68, 2, "INT")} AS bits,
           {_le_hex("h", 80, 4, "BIGINT")} AS data_bytes
    FROM wav
    WHERE substring(h, 1, 8) = '52494646'
      AND substring(h, 17, 8) = '57415645'
      AND substring(h, 25, 8) = '666D7420'
      AND substring(h, 73, 8) = '64617461'
),
wins AS (
    SELECT file_name, sample_rate, data_bytes // {fb} AS n_total, h,
           unnest(range(0, (data_bytes // {fb} - 1) // {ws} + 1)) AS win
    FROM hdr
    WHERE audio_fmt = 1 AND channels = {channels} AND bits = 16
      -- degenerate-chunk guards mirroring the Spark side: at least one
      -- whole frame, and the declared chunk present in the payload
      AND data_bytes >= {fb} AND data_bytes <= n_bytes - 44
),
chunks AS (
    SELECT file_name, sample_rate, win,
           least({ws}, n_total - win * {ws}) AS n_samples,
           substring(h, CAST(89 + win * {2 * fb * ws} AS BIGINT),
                     CAST({2 * fb} * least({ws}, n_total - win * {ws}) AS BIGINT))
               AS chunk
    FROM wins
)"""


def _sql_wav_features(fixture_dir: str, ws: int, channels: int) -> str:
    """The CTEs of every WAV oracle, ending in ``feats``: the DuckDB
    half of ``multimodal.wav_features``, one row per (file, window,
    channel) with its columns.  The per-channel fanout is an unnest,
    and the feature pairs come from ``lag() OVER`` the per-(window,
    channel) sample order, so pairs never span a window nor a channel,
    matching the Spark fold's NULL-seeded ``prev``: NULL lag at j=0
    makes ``vp * v < 0`` NULL, and coalesce keeps ``ac`` exact."""
    return f"""{_sql_wav_chunks(fixture_dir, ws, channels)},
chans AS (
    SELECT file_name, sample_rate, win, n_samples, chunk,
           unnest(range({channels})) AS channel
    FROM chunks
),
samp AS (
    SELECT file_name, sample_rate, win, channel, n_samples, chunk,
           unnest(range(0, n_samples)) AS j
    FROM chans
),
vals AS (
    SELECT file_name, sample_rate, win, channel, n_samples, j,
           {_s16(f"{4 * channels} * j + 4 * channel")} AS v
    FROM samp
),
pairs AS (
    SELECT file_name, sample_rate, win, channel, n_samples, v,
           lag(v) OVER (PARTITION BY file_name, win, channel ORDER BY j) AS vp
    FROM vals
),
feats AS (
    SELECT file_name, CAST(win AS BIGINT) AS win,
           CAST(channel AS BIGINT) AS channel,
           CAST(sample_rate AS INT) AS sample_rate,
           CAST(n_samples AS BIGINT) AS n_samples,
           CAST(max(abs(v)) AS BIGINT) AS peak,
           round(sqrt(CAST(sum(v * v) AS DOUBLE) / n_samples), 6) AS rms,
           CAST(sum(CASE WHEN vp * v < 0 THEN 1 ELSE 0 END) AS BIGINT) AS zc,
           round(CAST(sum(CASE WHEN vp * v < 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / greatest(n_samples - 1, 1), 6) AS zcr,
           round(CASE WHEN sum(v * v) > 0
                      THEN CAST(sum(coalesce(vp, 0) * v) AS DOUBLE)
                           / CAST(sum(v * v) AS DOUBLE)
                      ELSE 0.0 END, 6) AS ac1
    FROM pairs
    GROUP BY file_name, win, channel, sample_rate, n_samples
)"""


#: the mono WAV queries' columns: ``wav_features`` without ``channel``
#: (``wav_pcm_windows`` keeps the amplitude half)
WAV_FEATURES = (
    "file_name", "win", "sample_rate", "n_samples", "peak", "rms", "zc", "zcr", "ac1"
)
WAV_PCM = WAV_FEATURES[:6]


def q_wav_pcm_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-256-sample-window RMS and peak over REAL WAV files read as
    raw bytes through ``sources.registry.load_binary_files`` — the
    first multimodal query whose driver row validates SAMPLE-LEVEL
    math, not just container sniffing: the canonical RIFF/WAVE header
    is parsed and the int16 PCM samples decoded entirely with JVM
    ``hex``/``substring``/``conv`` expressions and an ``aggregate``
    higher-order function (``operators/multimodal.wav_features``).

    The input is the repo's committed deterministic fixture set (the
    sf tables carry no media bytes; the fixtures are integer-generated
    by ``tools/gen_wav_fixtures.py``, so both engines read identical
    bytes).  The DuckDB oracle is fully independent: ``read_blob``
    over the same files, hex-pair decoding via ``CAST('0x…')``, and a
    plain unnest+GROUP BY instead of Spark's in-row HOF fold."""
    from pyspark_pipelining_spark.operators.multimodal import wav_features
    from pyspark_pipelining_spark.sources.registry import load_binary_files

    files = load_binary_files(spark, WAV_FIXTURE_DIR, glob="*.wav")
    return wav_features(files, window_samples=WAV_WINDOW).select(*WAV_PCM).orderBy(
        "file_name", "win"
    )


SQL_WAV_PCM_WINDOWS = f"""
WITH {_sql_wav_features(WAV_FIXTURE_DIR, WAV_WINDOW, 1)}
SELECT {", ".join(WAV_PCM)} FROM feats
ORDER BY file_name, win
"""

QUERIES_ANN_MEDIA["wav_pcm_windows"] = q_wav_pcm_windows
ORACLES_ANN_MEDIA["wav_pcm_windows"] = SQL_WAV_PCM_WINDOWS


# ---------------------------------------------------------------------------
# Round-10: PNG chunk walk — variable-offset multimodal compute
# (staged+pytest-gated in round 9, registered here per the r09 verdict)
# ---------------------------------------------------------------------------

#: Committed deterministic PNG fixtures (tools/gen_png_fixtures.py) —
#: path derived via the shared sources.registry.fixtures_dir helper
#: (same convention as WAV_FIXTURE_DIR above) so the oracle SQL below
#: carries the right absolute path wherever the repo sits.
PNG_FIXTURE_DIR = _fixtures_dir("images")

PNG_MAX_CHUNKS = 64


def q_png_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-chunk inventory (type, length, offset, stored CRC) of REAL
    PNG files read as raw bytes through the binaryFile source — the
    second multimodal query doing byte-level COMPUTE under the hard
    signal, and the first whose parse is a variable-offset walk: chunk
    N's position is a function of every prior chunk's length, so the
    Spark plan is a bounded ``aggregate`` HOF state machine
    (``operators/multimodal.png_chunk_walk``) and the DuckDB oracle is
    a recursive CTE — two independent formulations of the same walk
    over identical committed bytes (``tools/gen_png_fixtures.py``,
    hand-built stored-deflate, no compressor involved).

    Both sides enforce the same clean-termination contract (signature,
    in-bounds chunks, letters-only types, IEND within the chunk cap,
    final offset exactly at EOF) so strays FILTER identically — pinned
    cross-engine on a planted stray lake (truncated chunk table,
    trailing garbage, over-cap chunk count) in
    ``tests/test_operators_unit.py``."""
    from pyspark_pipelining_spark.operators.multimodal import png_chunk_walk
    from pyspark_pipelining_spark.sources.registry import load_binary_files

    files = load_binary_files(spark, PNG_FIXTURE_DIR, glob="*.png")
    return png_chunk_walk(files, max_chunks=PNG_MAX_CHUNKS).orderBy(
        "file_name", "idx"
    )


def _sql_png_walk(fixture_dir: str, crc: bool = False) -> str:
    """The ``png``, ``walk`` and ``valid`` CTEs: the recursive chunk walk
    over each PNG under ``fixture_dir`` (``multimodal.png_chunk_walk``'s
    fold), one row per chunk (plus a seed row, ``idx`` -1), and the
    files whose walk ends cleanly at IEND exactly at EOF.  ``crc`` adds
    each chunk's stored CRC."""
    t = "chr(b0) || chr(b1) || chr(b2) || chr(b3)"
    mc = PNG_MAX_CHUNKS
    seed = step = ""
    if crc:
        seed = " CAST(NULL AS BIGINT) AS crc,"
        step = " CAST('0x' || substring(hx, CAST(2 * (nxt + 8 + len) + 1 AS BIGINT), 8) AS BIGINT),"
    return f"""png AS (
    SELECT {FILE_NAME},
           octet_length(content) AS n_bytes,
           hex(content) AS hx
    FROM read_blob('{sql_str_literal(fixture_dir)}/*.png')
    WHERE substring(hex(content), 1, 16) = '89504E470D0A1A0A'
),
walk AS (
    SELECT file_name, n_bytes, hx,
           CAST(8 AS BIGINT) AS nxt, CAST(-1 AS BIGINT) AS idx,
           CAST(NULL AS BIGINT) AS coff, CAST(NULL AS BIGINT) AS clen,
           CAST(NULL AS VARCHAR) AS ctype,{seed} FALSE AS done
    FROM png
    UNION ALL
    SELECT file_name, n_bytes, hx,
           nxt + 12 + len, idx + 1, nxt, len, {t},{step} {t} = 'IEND'
    FROM (
        SELECT *,
               CAST('0x' || substring(hx, CAST(2 * nxt + 1 AS BIGINT), 8)
                    AS BIGINT) AS len,
               CAST('0x' || substring(hx, CAST(2 * nxt + 9 AS BIGINT), 2)
                    AS INT) AS b0,
               CAST('0x' || substring(hx, CAST(2 * nxt + 11 AS BIGINT), 2)
                    AS INT) AS b1,
               CAST('0x' || substring(hx, CAST(2 * nxt + 13 AS BIGINT), 2)
                    AS INT) AS b2,
               CAST('0x' || substring(hx, CAST(2 * nxt + 15 AS BIGINT), 2)
                    AS INT) AS b3
        FROM walk
        -- idx cap mirrors Spark's {mc}-step fold: the {mc}-th chunk
        -- (idx {mc - 1}) may still be appended, never one more
        WHERE NOT done AND nxt + 8 <= n_bytes AND idx <= {mc - 2}
    ) s
    WHERE ((b0 BETWEEN 65 AND 90) OR (b0 BETWEEN 97 AND 122))
      AND ((b1 BETWEEN 65 AND 90) OR (b1 BETWEEN 97 AND 122))
      AND ((b2 BETWEEN 65 AND 90) OR (b2 BETWEEN 97 AND 122))
      AND ((b3 BETWEEN 65 AND 90) OR (b3 BETWEEN 97 AND 122))
      AND nxt + 12 + len <= n_bytes
),
valid AS (SELECT file_name FROM walk WHERE done AND nxt = n_bytes)"""


def _sql_png_chunks(fixture_dir: str = PNG_FIXTURE_DIR) -> str:
    # fixture_dir is parameterized so the stray-lake parity test can run
    # the SAME oracle over a planted tmp dir; default is the committed set
    return f"""
WITH RECURSIVE {_sql_png_walk(fixture_dir, crc=True)}
SELECT w.file_name, w.idx, w.coff AS off, w.ctype, w.clen, w.crc
FROM walk w JOIN valid v USING (file_name)
WHERE w.idx >= 0
ORDER BY file_name, idx
"""

SQL_PNG_CHUNKS = _sql_png_chunks()

QUERIES_ANN_MEDIA["png_chunks"] = q_png_chunks
ORACLES_ANN_MEDIA["png_chunks"] = SQL_PNG_CHUNKS


# --- Round-11 registration (formerly queries_staged.py): PNG pixel
# statistics — full codec-free decode to per-channel stats -------------


def q_png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel pixel statistics (sum/min/max/mean) of REAL PNG
    files — the first PIXEL-level image computation under the hard
    signal, completing the multimodal ladder container-sniff →
    chunk-walk → full decode: the Spark side runs the whole chain
    (chunk walk → IDAT concat → zlib stored-block inflation →
    filter-0 scanline validation → per-channel byte folds) as ONE
    JVM expression per file (``operators/multimodal.png_pixel_stats``;
    see its docstring for the structural gates and the let-binding
    discipline), and the DuckDB oracle re-derives the identical
    numbers through recursive CTEs (chunk walk, stored-block walk)
    plus ``range`` unnests over the raw scanline hex — two independent
    decoders over identical committed bytes, matched bit-for-bit and
    cross-checked against stdlib ``zlib.decompress`` in unit tests."""
    from pyspark_pipelining_spark.operators.multimodal import png_pixel_stats
    from pyspark_pipelining_spark.sources.registry import load_binary_files

    files = load_binary_files(spark, PNG_FIXTURE_DIR, glob="*.png")
    return png_pixel_stats(files, max_chunks=PNG_MAX_CHUNKS).orderBy(
        "file_name", "channel"
    )


def _sql_png_inflate(
    fixture_dir: str,
    max_px: int | None = None,
    max_blocks: int | None = None,
    max_rows: int | None = None,
) -> str:
    """The decoders' front half: :func:`_sql_png_walk`, then the IHDR,
    IDAT and PLTE chunks, the structural gates (``max_px`` pixels,
    ``max_rows`` rows; ``multimodal``'s caps by default), and the
    recursive stored-block zlib walk (``max_blocks`` blocks) to
    ``rawimg``, each file's raw scanline hex ``outh``."""
    from pyspark_pipelining_spark.operators.multimodal import (
        PNG_MAX_ROWS,
        PNG_PIXEL_MAX,
        PNG_ZLIB_MAX_BLOCKS,
    )

    mpx = PNG_PIXEL_MAX if max_px is None else int(max_px)
    mb = PNG_ZLIB_MAX_BLOCKS if max_blocks is None else int(max_blocks)
    mrows = PNG_MAX_ROWS if max_rows is None else int(max_rows)
    return f"""{_sql_png_walk(fixture_dir)},
chunks AS (
    SELECT w.file_name, w.idx, w.coff, w.clen, w.ctype, w.hx
    FROM walk w JOIN valid v USING (file_name) WHERE w.idx >= 0
),
ihdr AS (
    SELECT file_name,
           CAST('0x' || substring(hx, CAST(2 * (coff + 8) + 1 AS BIGINT), 8)
                AS BIGINT) AS w,
           CAST('0x' || substring(hx, CAST(2 * (coff + 12) + 1 AS BIGINT), 8)
                AS BIGINT) AS h,
           CAST('0x' || substring(hx, CAST(2 * (coff + 16) + 1 AS BIGINT), 2)
                AS INT) AS bd,
           CAST('0x' || substring(hx, CAST(2 * (coff + 17) + 1 AS BIGINT), 2)
                AS INT) AS ct,
           CAST('0x' || substring(hx, CAST(2 * (coff + 18) + 1 AS BIGINT), 2)
                AS INT) AS cm,
           CAST('0x' || substring(hx, CAST(2 * (coff + 19) + 1 AS BIGINT), 2)
                AS INT) AS fm,
           CAST('0x' || substring(hx, CAST(2 * (coff + 20) + 1 AS BIGINT), 2)
                AS INT) AS il
    FROM chunks WHERE idx = 0 AND ctype = 'IHDR' AND clen = 13
),
idat AS (
    SELECT file_name,
           string_agg(substring(hx, CAST(2 * (coff + 8) + 1 AS BIGINT),
                                CAST(2 * clen AS BIGINT)), ''
                      ORDER BY idx) AS zh
    FROM chunks WHERE ctype = 'IDAT' GROUP BY file_name
),
plte AS (
    SELECT file_name, count(*) AS n_plte, min(clen) AS plen,
           min(substring(hx, CAST(2 * (coff + 8) + 1 AS BIGINT),
                         CAST(2 * clen AS BIGINT))) AS phex
    FROM chunks WHERE ctype = 'PLTE' GROUP BY file_name
),
meta AS (
    SELECT i.file_name, i.w, i.h, i.ct,
           -- bpp = RAW bytes/pixel (palette rows carry 1 index byte);
           -- ch = OUTPUT channels (palette resolves through PLTE)
           CASE WHEN i.ct = 2 THEN 3 ELSE 1 END AS bpp,
           CASE WHEN i.ct = 0 THEN 1 ELSE 3 END AS ch,
           COALESCE(p.phex, '') AS phex, d.zh,
           length(d.zh) // 2 AS lz
    FROM ihdr i JOIN idat d USING (file_name)
    LEFT JOIN plte p USING (file_name)
    -- il = 0: the Spark decoder requires non-interlaced images
    -- (multimodal.py filter chain); an Adam7 stream whose raw size
    -- happens to equal the linear layout (any 1x1 image) would pass
    -- every byte-level gate below, so the stray must be filtered HERE
    -- to keep the two decoders row-identical (r10 ADVICE item 1)
    WHERE i.bd = 8 AND i.ct IN (0, 2, 3) AND i.cm = 0 AND i.fm = 0
      AND i.il = 0
      -- per-dimension caps guard the pixel product INSIDE the CASE so
      -- the bound is evaluation-order independent: DuckDB may reorder
      -- conjuncts, and a malicious 0xFFFFFFFF x 0xFFFFFFFF IHDR must
      -- filter, never overflow BIGINT (r10 ADVICE item 2)
      AND i.w BETWEEN 1 AND {mpx} AND i.h BETWEEN 1 AND {mrows}
      AND CASE WHEN i.w BETWEEN 1 AND {mpx} AND i.h BETWEEN 1 AND {mrows}
               THEN i.w * i.h ELSE {mpx} + 1 END <= {mpx}
      -- palette images need exactly one well-formed PLTE to resolve
      AND (i.ct != 3 OR (p.n_plte = 1 AND p.plen % 3 = 0
                         AND p.plen BETWEEN 3 AND 768))
      AND length(d.zh) >= 22
      -- stream ceiling mirrors Spark's int32-position envelope: any
      -- longer stream cannot decode to an in-scope raw size anyway
      AND length(d.zh) <= {2 * (3 * mpx + mrows + 5 * mb + 64)}
      AND CAST('0x' || substring(d.zh, 1, 2) AS INT) % 16 = 8
      AND (CAST('0x' || substring(d.zh, 3, 2) AS INT) // 32) % 2 = 0
),
zwalk AS (
    SELECT file_name, w, h, ct, bpp, ch, phex, zh, lz,
           CAST(2 AS BIGINT) AS zoff, CAST('' AS VARCHAR) AS outh,
           CAST(0 AS BIGINT) AS zi, FALSE AS done
    FROM meta
    UNION ALL
    SELECT file_name, w, h, ct, bpp, ch, phex, zh, lz,
           zoff + 5 + blen,
           outh || substring(zh, CAST(2 * (zoff + 5) + 1 AS BIGINT),
                             CAST(2 * blen AS BIGINT)),
           zi + 1, bf = 1
    FROM (
        SELECT *,
               CAST('0x' || substring(zh, CAST(2 * zoff + 1 AS BIGINT), 2)
                    AS INT) AS bf,
               CAST('0x' || substring(zh, CAST(2 * zoff + 3 AS BIGINT), 2)
                    AS BIGINT)
               + 256 * CAST('0x' || substring(zh, CAST(2 * zoff + 5 AS BIGINT), 2)
                    AS BIGINT) AS blen,
               CAST('0x' || substring(zh, CAST(2 * zoff + 7 AS BIGINT), 2)
                    AS BIGINT)
               + 256 * CAST('0x' || substring(zh, CAST(2 * zoff + 9 AS BIGINT), 2)
                    AS BIGINT) AS nlen
        FROM zwalk
        -- zi cap mirrors Spark's {mb}-step fold
        WHERE NOT done AND zi < {mb}
    ) s
    WHERE bf IN (0, 1) AND nlen = 65535 - blen AND zoff + 5 + blen + 4 <= lz
),
rawimg AS (
    SELECT file_name, w, h, ct, bpp, ch, phex, outh
    FROM zwalk
    WHERE done AND zoff + 4 = lz AND length(outh) = 2 * h * (1 + w * bpp)
)"""


#: the per-channel output both PNG pixel oracles end with, over ``px``
#: (one row per pixel and output channel, its value ``v``): the DuckDB
#: half of ``multimodal._png_channel_stats``
_SQL_PNG_CHANNEL_STATS = """SELECT file_name, CAST(channel AS BIGINT) AS channel,
       CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
       CAST(w * h AS BIGINT) AS n_px,
       CAST(sum(v) AS BIGINT) AS sum_val,
       CAST(min(v) AS BIGINT) AS min_val,
       CAST(max(v) AS BIGINT) AS max_val,
       round(CAST(sum(v) AS DOUBLE) / CAST(w * h AS DOUBLE), 6) AS mean_val
FROM px GROUP BY file_name, channel, w, h
ORDER BY file_name, channel
"""


def _sql_png_pixel_stats(
    fixture_dir: str = PNG_FIXTURE_DIR,
    max_px: int | None = None,
    max_blocks: int | None = None,
    max_rows: int | None = None,
) -> str:
    return f"""
WITH RECURSIVE {_sql_png_inflate(fixture_dir, max_px, max_blocks, max_rows)},
badfilter AS (
    SELECT DISTINCT file_name FROM (
        SELECT file_name, outh, w, bpp, unnest(range(h)) AS rr FROM rawimg
    )
    WHERE substring(outh, CAST(2 * rr * (1 + w * bpp) + 1 AS BIGINT), 2) <> '00'
),
good AS (
    SELECT * FROM rawimg
    WHERE file_name NOT IN (SELECT file_name FROM badfilter)
),
chx AS (
    SELECT file_name, w, h, ct, bpp, ch, phex, outh,
           unnest(range(ch)) AS channel
    FROM good
),
pxraw AS (
    -- the RAW sample byte per (pixel, output channel): gray/RGB read
    -- it directly; palette reads the 1-byte index (channel-invariant)
    SELECT file_name, w, h, ct, phex, channel,
           CAST('0x' || substring(outh,
                CAST(2 * ((i // w) * (1 + w * bpp) + 1 + (i % w) * bpp
                          + CASE WHEN ct = 2 THEN channel ELSE 0 END)
                     + 1 AS BIGINT), 2)
                AS BIGINT) AS rawv
    FROM (SELECT *, unnest(range(w * h)) AS i FROM chx)
),
badidx AS (
    -- an index past the palette end is a stray: the whole file drops
    SELECT DISTINCT file_name FROM pxraw
    WHERE ct = 3 AND 6 * rawv >= length(phex)
),
px AS (
    SELECT file_name, w, h, channel,
           CASE WHEN ct = 3 THEN
                TRY_CAST('0x' || substring(phex,
                     CAST(6 * rawv + 2 * channel + 1 AS BIGINT), 2)
                     AS BIGINT)
                ELSE rawv END AS v
    FROM pxraw
    WHERE file_name NOT IN (SELECT file_name FROM badidx)
)
{_SQL_PNG_CHANNEL_STATS}"""


SQL_PNG_PIXEL_STATS = _sql_png_pixel_stats()

QUERIES_ANN_MEDIA["png_pixel_stats"] = q_png_pixel_stats
ORACLES_ANN_MEDIA["png_pixel_stats"] = SQL_PNG_PIXEL_STATS


# --- Round-12 registration (formerly queries_staged.py): PNG Sub/Up
# filter reconstruction — pixel stats one decode rung up ---------------

PNG_FILTER_FIXTURE_DIR = _fixtures_dir("images_filters")


def q_png_filter_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel pixel statistics of PNGs whose scanlines use filter
    types 0/1/2 (None/Sub/Up) — the decode ladder's next rung after
    the registered ``png_pixel_stats`` (r10 verdict item 5: Sub is the
    single most common filter real encoders emit), over its OWN
    committed fixture lake so the registered filter-0 queries' inputs
    never change.  The Spark side
    (``operators/multimodal.png_filtered_pixel_stats``) keeps the
    byte-level layers as one let-bound JVM expression and performs the
    unfilter as DataFrame WINDOW prefix scans (mod-256 distributes
    over addition: a Sub row telescopes to per-lane running sums, an
    Up chain to per-column running sums anchored at the nearest
    self-contained row); the DuckDB oracle re-derives the identical
    reconstruction with its own window functions over the
    recursive-CTE-inflated scanlines.  Filter types 3/4 and every
    other stray still FILTER, never error (the committed
    ``avg_stray.png`` pins it under the hard signal).

    THE LADDER ENDS HERE, BY DESIGN (r11 verdict item 3, the
    Theil–Sen do-not-generalize precedent): Average (filter 3)
    floor-halves its predictor — ``(a + b) // 2`` is NOT linear
    mod 256, so the telescoping algebra that turned Sub/Up into
    window prefix sums has no analogue — and Paeth (filter 4)
    predicts with a nonlinear min-distance choice among three
    neighbors, which makes every byte depend on the full
    reconstruction of both its row and the row above.  Either would
    force a chained per-pixel sequential fold — exactly the
    re-quadratized shape the r10 measurements rejected.  Filters 3/4
    therefore stay behind the ``find_spec("PIL")`` codec dispatch
    (``operators/multimodal.py``), and this query's gate DROPS such
    files rather than decoding them wrong."""
    from pyspark_pipelining_spark.operators.multimodal import (
        png_filtered_pixel_stats,
    )
    from pyspark_pipelining_spark.sources.registry import load_binary_files

    files = load_binary_files(spark, PNG_FILTER_FIXTURE_DIR, glob="*.png")
    return png_filtered_pixel_stats(files, max_chunks=PNG_MAX_CHUNKS).orderBy(
        "file_name", "channel"
    )


def _sql_png_filter_pixel_stats(fixture_dir: str = PNG_FILTER_FIXTURE_DIR) -> str:
    """The independent second decoder, filters 0/1/2: the chunk/zlib
    walk is ``_sql_png_pixel_stats``' own (:func:`_sql_png_inflate`),
    then the reconstruction runs as window prefix sums over the
    unnested scanline bytes — the same mod-256 telescoping algebra as
    the Spark plan, independently expressed."""
    return f"""
WITH RECURSIVE {_sql_png_inflate(fixture_dir)},
badfilter AS (
    -- only None/Sub/Up are decodable; any other filter type drops
    -- the whole file (Average/Paeth stay behind the codec path)
    SELECT DISTINCT file_name FROM (
        SELECT file_name, outh, w, bpp, unnest(range(h)) AS rr FROM rawimg
    )
    WHERE substring(outh, CAST(2 * rr * (1 + w * bpp) + 1 AS BIGINT), 2)
          NOT IN ('00', '01', '02')
),
rows_ AS (
    SELECT file_name, w, h, ct, bpp, ch, phex, rr,
           CAST('0x' || substring(outh,
                CAST(2 * rr * (1 + w * bpp) + 1 AS BIGINT), 2) AS INT)
               AS ftype,
           substring(outh, CAST(2 * rr * (1 + w * bpp) + 3 AS BIGINT),
                     CAST(2 * w * bpp AS BIGINT)) AS rowh
    FROM (
        SELECT r.*, unnest(range(h)) AS rr FROM rawimg r
        WHERE file_name NOT IN (SELECT file_name FROM badfilter)
    )
),
bytes_ AS (
    SELECT file_name, w, h, ct, bpp, ch, phex, rr, ftype, xb,
           CAST('0x' || substring(rowh, CAST(2 * xb + 1 AS BIGINT), 2)
                AS BIGINT) AS raw
    FROM (SELECT r.*, unnest(range(w * bpp)) AS xb FROM rows_ r)
),
subbed AS (
    -- Sub telescopes to a per-lane running sum within the row; None
    -- rows pass through; Up rows are not self-contained (NULL here)
    SELECT *,
           CASE WHEN ftype = 1 THEN
                    sum(raw) OVER (PARTITION BY file_name, rr, xb % bpp
                                   ORDER BY xb ROWS UNBOUNDED PRECEDING) % 256
                WHEN ftype = 0 THEN raw END AS self_val
    FROM bytes_
),
vert AS (
    SELECT *,
           last_value(self_val IGNORE NULLS) OVER w_v AS base_val,
           sum(CASE WHEN ftype = 2 THEN raw ELSE 0 END) OVER w_v AS cum_up
    FROM subbed
    WINDOW w_v AS (PARTITION BY file_name, xb ORDER BY rr
                   ROWS UNBOUNDED PRECEDING)
),
vert2 AS (
    SELECT *,
           last_value(CASE WHEN ftype <> 2 THEN cum_up END IGNORE NULLS)
               OVER w_v2 AS cum_up_base
    FROM vert
    WINDOW w_v2 AS (PARTITION BY file_name, xb ORDER BY rr
                    ROWS UNBOUNDED PRECEDING)
),
recon AS (
    -- an Up chain = anchor row's reconstruction + the chain's raw
    -- bytes, mod 256; a missing anchor is the spec's zero row
    SELECT file_name, w, h, ct, ch, phex, xb,
           CASE WHEN ftype <> 2 THEN self_val
                ELSE (COALESCE(base_val, 0) + cum_up
                      - COALESCE(cum_up_base, 0)) % 256 END AS v0
    FROM vert2
),
badidx AS (
    SELECT DISTINCT file_name FROM recon
    WHERE ct = 3 AND 6 * v0 >= length(phex)
),
chx AS (
    SELECT file_name, w, h, ct, phex, v0,
           unnest(CASE WHEN ct = 2 THEN [CAST(xb % 3 AS BIGINT)]
                  ELSE range(ch) END) AS channel
    FROM recon
    WHERE file_name NOT IN (SELECT file_name FROM badidx)
),
px AS (
    SELECT file_name, w, h, channel,
           CASE WHEN ct = 3 THEN
                TRY_CAST('0x' || substring(phex,
                     CAST(6 * v0 + 2 * channel + 1 AS BIGINT), 2)
                     AS BIGINT)
                ELSE v0 END AS v
    FROM chx
)
{_SQL_PNG_CHANNEL_STATS}"""


SQL_PNG_FILTER_PIXEL_STATS = _sql_png_filter_pixel_stats()

QUERIES_ANN_MEDIA["png_filter_pixel_stats"] = q_png_filter_pixel_stats
ORACLES_ANN_MEDIA["png_filter_pixel_stats"] = SQL_PNG_FILTER_PIXEL_STATS


# --- Round-12 registration (formerly queries_staged.py): WAV window
# signal features — ZCR + first-lag autocorrelation in the SAME fold ---


def q_wav_window_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`wav_pcm_windows`' signal features: the SAME single per-window
    ``aggregate`` fold over the int16 PCM samples also carries
    zero-crossing count/rate and first-lag autocorrelation — amplitude
    stats → signal features with one decode and no extra scan
    (:func:`operators.multimodal.wav_features`).

    Cross-engine exactness: ``zc`` and the two correlation sums are
    exact int64 on both engines (strict sign flips ``prev*x < 0``;
    products ≤ 2³⁰, window-bounded sums); ``zcr`` and ``ac1`` each do
    ONE double division of exact integers (CLAUDE.md discipline), and
    a 1-sample tail window / all-zero window yield 0.0 — never NULL or
    ÷0.  The DuckDB oracle is fully independent: ``read_blob`` +
    hex-pair decode + ``lag() OVER`` pairs + GROUP BY, vs Spark's
    NULL-seeded chained-``prev`` accumulator."""
    from pyspark_pipelining_spark.operators.multimodal import wav_features
    from pyspark_pipelining_spark.sources.registry import load_binary_files

    files = load_binary_files(spark, WAV_FIXTURE_DIR, glob="*.wav")
    return wav_features(files, window_samples=WAV_WINDOW).select(
        *WAV_FEATURES
    ).orderBy("file_name", "win")


SQL_WAV_WINDOW_FEATURES = f"""
WITH {_sql_wav_features(WAV_FIXTURE_DIR, WAV_WINDOW, 1)}
SELECT {", ".join(WAV_FEATURES)} FROM feats
ORDER BY file_name, win
"""

QUERIES_ANN_MEDIA["wav_window_features"] = q_wav_window_features
ORACLES_ANN_MEDIA["wav_window_features"] = SQL_WAV_WINDOW_FEATURES


# --- Round-13 registration (formerly queries_staged.py): stereo WAV
# per-channel window features from interleaved PCM16 frames -----------

WAV_STEREO_FIXTURE_DIR = _fixtures_dir("audio_stereo")
WAV_STEREO_WINDOW = 256


def q_wav_stereo_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``wav_window_features`` for interleaved STEREO PCM16 (real media
    lakes are mostly stereo): ``wav_features(channels=2)`` cuts one
    chunk per window carrying its interleaved bytes once, folds each
    channel at stride 2, and keeps ``channel`` as an output column —
    over its OWN committed fixture lake (``fixtures/audio_stereo/``:
    L-triangle/R-noise, ramp/negated-ramp, a mono stray the
    channels==2 gate must FILTER, and a trailing-partial-frame file
    both engines truncate identically).

    All feature semantics and exactness contracts are the mono
    queries', per channel.  The DuckDB oracle is fully independent:
    hex-pair stride-2 decode + ``lag() OVER (PARTITION BY file_name,
    win, channel ORDER BY j)`` + GROUP BY."""
    from pyspark_pipelining_spark.operators.multimodal import wav_features
    from pyspark_pipelining_spark.sources.registry import load_binary_files

    files = load_binary_files(spark, WAV_STEREO_FIXTURE_DIR, glob="*.wav")
    return wav_features(files, window_samples=WAV_STEREO_WINDOW, channels=2).orderBy(
        "file_name", "win", "channel"
    )


SQL_WAV_STEREO_FEATURES = f"""
WITH {_sql_wav_features(WAV_STEREO_FIXTURE_DIR, WAV_STEREO_WINDOW, 2)}
SELECT * FROM feats
ORDER BY file_name, win, channel
"""

QUERIES_ANN_MEDIA["wav_stereo_features"] = q_wav_stereo_features
ORACLES_ANN_MEDIA["wav_stereo_features"] = SQL_WAV_STEREO_FEATURES


# --- Round-13 registration (formerly queries_staged.py): SQ8 ANN —
# scalar-quantized integer-dot shortlist + exact cosine rerank --------

SQ8_SHORTLIST = 50


def q_sim_sq8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization ANN (the FAISS ``SQ8`` / vector-store
    "scalar quantization" mode) — the missing precision rung in the
    ANN ladder between binary quantization (1 bit/dim,
    ``sim_bq_rerank``) and product quantization (trained codebooks,
    ``sim_pq_topk``): per-dim affine int8 codes against a
    corpus-calibrated min/max, a SYMMETRIC centered integer-dot
    shortlist, exact cosine re-scoring of the survivors
    (:func:`operators.similarity.sq8_rerank_topk`).  Complements the
    registered ``embedding_sq8`` audit (r09), which quantizes each
    vector against its OWN min/max to report code health — search
    needs the CORPUS-calibrated per-dimension bounds here, or two
    vectors' codes are not comparable.

    Cross-engine exactness: codes use ``floor``, not ``round`` (IEEE
    floor is bit-deterministic; half-way round ties break differently
    across engines), and the shortlist score ``Σ (c−128)(q−128)`` is
    exact int64 — so shortlist AND final ranking are bit-identical in
    DuckDB, no tolerance anywhere.  Scale shape: calibration is one
    dim-keyed map-side aggregate broadcast as a 1-row frame; the
    shortlist scan carries dim-byte codes, never float vectors;
    re-rank touches full floats for |q|·shortlist rows only."""
    from pyspark_pipelining_spark.operators.similarity import sq8_rerank_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return sq8_rerank_topk(
        emb, _query_vecs(spark, sf_dir), k=TOPK, shortlist=SQ8_SHORTLIST, dim=DIM
    )


def _sql_sim_sq8_rerank() -> str:
    d = DIM

    def code(vec: str) -> str:
        return (
            f"list_transform(range({d}), i -> CASE"
            f" WHEN s.mxs[i + 1] > s.mins[i + 1] THEN"
            f" least(255, CAST(floor((CAST({vec}[i + 1] AS DOUBLE) - s.mins[i + 1])"
            f" * 256.0 / (s.mxs[i + 1] - s.mins[i + 1])) AS BIGINT))"
            f" ELSE 0 END)"
        )

    return f"""
WITH dims AS (
    SELECT t.i,
           min(CAST(embedding[t.i + 1] AS DOUBLE)) AS mn,
           max(CAST(embedding[t.i + 1] AS DOUBLE)) AS mx
    FROM embeddings, range({d}) t(i)
    GROUP BY t.i
),
stats AS (SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS mxs FROM dims),
corpus AS (
    SELECT vec_id, {code('embedding')} AS sq
    FROM embeddings CROSS JOIN stats s
),
qc AS (
    SELECT vec_id AS query_id, {code('embedding')} AS qsq
    FROM embeddings CROSS JOIN stats s
    WHERE vec_id < {N_QUERIES}
),
short AS (
    SELECT qc.query_id, c.vec_id
    FROM corpus c, qc WHERE c.vec_id != qc.query_id
    QUALIFY row_number() OVER (
        PARTITION BY qc.query_id
        ORDER BY list_sum(list_transform(range({d}),
                          i -> (c.sq[i + 1] - 128) * (qc.qsq[i + 1] - 128))) DESC,
                 c.vec_id ASC) <= {SQ8_SHORTLIST}
),
{_SQL_RERANK}
"""


SQL_SIM_SQ8_RERANK = _sql_sim_sq8_rerank()

QUERIES_ANN_MEDIA["sim_sq8_rerank"] = q_sim_sq8_rerank
ORACLES_ANN_MEDIA["sim_sq8_rerank"] = SQL_SIM_SQ8_RERANK


# ---------------------------------------------------------------------------
# Round-18 registration (formerly queries_staged.py): learned-centroid
# IVF ANN.  The iterative k-means trainer is not SQL-expressible, so
# it ran ONCE (tools/gen_ann_fixtures.py) and the committed
# integer-lattice centroid table fixtures/ann/centroids.parquet is the
# query's input — assignment and probe selection are exact int64 L2²,
# the semantic_dedup lattice convention, so the whole search pipeline
# carries a DuckDB oracle.  Gates in tests/test_ivf_learned.py.
# ---------------------------------------------------------------------------

#: must match tools/gen_ann_fixtures.py CENT_GRID (the committed
#: lattice); asserted equal in tests/test_ivf_learned.py
CENT_GRID = 1 << 20
IVF_LEARNED_NPROBE = 2


def _centroid_fixture_path() -> str:
    import os

    from pyspark_pipelining_spark.sources.registry import fixtures_dir

    return os.path.join(fixtures_dir("ann"), "centroids.parquet")


def q_sim_ivf_learned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN against the committed TRAINED coarse quantizer
    (``operators/similarity.ivf_topk_learned_q``): the scale story a
    100 TB ANN deployment actually uses — k-means centroids trained
    once on a sample, frozen, broadcast; every corpus vector assigned
    by exact int64 lattice L2²; each query probes its nprobe nearest
    cells and exact-cosine re-ranks only those vectors."""
    from pyspark_pipelining_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    cents = spark.read.parquet(_centroid_fixture_path())
    return similarity.ivf_topk_learned_q(
        emb,
        _query_vecs(spark, sf_dir),
        cents,
        grid=CENT_GRID,
        k=TOPK,
        nprobe=IVF_LEARNED_NPROBE,
    )


def _sql_sim_ivf_learned_topk() -> str:
    from pyspark_pipelining_spark.sources.registry import sql_str_literal

    g = CENT_GRID
    path = sql_str_literal(_centroid_fixture_path())
    d2 = (
        "list_sum(list_transform(range(1, 65),"
        " i -> (xq[CAST(i AS INT)] - c.centroid_q[CAST(i AS INT)])"
        " * (xq[CAST(i AS INT)] - c.centroid_q[CAST(i AS INT)])))"
    )
    return f"""
WITH cents AS (SELECT cell, centroid_q FROM '{path}'),
embq AS (
    SELECT vec_id, embedding,
           list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {g}) AS BIGINT)) AS xq
    FROM embeddings
),
corpus_d AS (
    SELECT e.vec_id, e.embedding, c.cell, {d2} AS d
    FROM embq e CROSS JOIN cents c
),
corpus AS (
    SELECT vec_id, embedding, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        FROM corpus_d
    ) WHERE rn = 1
),
qs AS (
    SELECT vec_id AS query_id, embedding AS query_vec, xq
    FROM embq WHERE vec_id < {N_QUERIES}
),
probes_d AS (
    SELECT qs.query_id, qs.query_vec, c.cell, {d2} AS d
    FROM qs CROSS JOIN cents c
),
probes AS (
    SELECT query_id, query_vec, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d, cell) AS pr
        FROM probes_d
    ) WHERE pr <= {IVF_LEARNED_NPROBE}
),
pairs AS (
    SELECT q.query_id, e.vec_id,
           {duck_cosine()} AS cosine
    FROM corpus e JOIN probes q ON e.cell = q.cell AND e.vec_id != q.query_id
),
ranked AS (
    SELECT *, {duck_rank()}
    FROM pairs
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {TOPK}
"""


SQL_SIM_IVF_LEARNED_TOPK = _sql_sim_ivf_learned_topk()

QUERIES_ANN_MEDIA["sim_ivf_learned_topk"] = q_sim_ivf_learned_topk
ORACLES_ANN_MEDIA["sim_ivf_learned_topk"] = SQL_SIM_IVF_LEARNED_TOPK
