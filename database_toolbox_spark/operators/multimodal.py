"""Multimodal-column plumbing (BASELINE.json north star: treat image/audio/
video as opaque `binary` columns with typed metadata; decode/feature-extract
as Pandas UDFs over Arrow batches).

The container has no third-party image/audio libraries, so the real
decode path is PNG — fully decodable with stdlib zlib (`functions/png.py`;
`decode_image` delegates to it). `png_payloads` synthesizes real PNG bytes
from each document and `image_decode_stats` decodes them back,
oracle-checked against a PNG-independent ASCII recomputation. The
deterministic fake from `make_fake_decoder` remains as the format-agnostic
byte-stats path; everything Spark-side is real either way: the binary
column, the schema, the `mapInPandas` Arrow batch shape, and the
partition-parallel execution.

`multimodal_decode_features` is oracle-checked: the fake features (byte
count, first byte, byte checksum) are recomputed by DuckDB from the text's
ASCII codes — an independent check that the Pandas-UDF path transforms every
byte of every row correctly.

Scale notes: mapInPandas streams Arrow record batches per partition —
constant memory per task regardless of corpus size; binary payloads never
hit the driver.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_toolbox_spark.session import load_table, materialize

FEATURE_SCHEMA = "doc_id bigint, n_bytes int, first_byte int, checksum bigint"


def decode_image(payload: bytes) -> dict:
    """Real decode hook — a pure-stdlib PNG decoder (zlib + unfilter; see
    functions/png.py). Returns {"width", "height", "channels", "pixels"};
    raises ValueError on non-PNG or out-of-scope payloads. No third-party
    imagery libs exist in this container, so PNG (fully decodable with
    stdlib zlib) is the real-bytes format; other formats would plug in
    here the same way."""
    from database_toolbox_spark.functions.png import decode_png

    return decode_png(payload)


def make_fake_decoder():
    """Deterministic stand-in for decode+feature-extract: byte-level stats
    computed from the binary payload (vectorized per Arrow batch).

    Returned as a locally-defined function so cloudpickle serializes it BY
    VALUE — module-level functions pickle by reference and would require
    this package on every Python worker's sys.path."""

    def fake_decode_features(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        payloads = pdf["payload"]
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_bytes": payloads.map(len).astype("int32"),
                "first_byte": payloads.map(
                    lambda b: b[0] if len(b) else -1
                ).astype("int32"),
                "checksum": payloads.map(
                    lambda b: int(np.frombuffer(b, dtype=np.uint8).sum()) % 65536
                ).astype("int64"),
            }
        )

    return fake_decode_features


def with_binary_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal table shape: (doc_id, payload binary, metadata)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "source",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.octet_length(F.encode("text", "UTF-8")).alias("n_bytes"),
            F.lit("text/plain").alias("mime"),
        ).alias("meta"),
    )


def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary → features through mapInPandas (the real multimodal path)."""
    # range-partition BEFORE the Python stage: the final per-doc sort is
    # then local, so the range sampler only ever scans the cheap payload
    # projection, never the decode stage (see png_payloads note)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    binary = (
        with_binary_payload(spark, sf_dir)
        .select("doc_id", "payload")
        .repartitionByRange(n_parts, "doc_id")
    )
    decode = make_fake_decoder()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield decode(pdf)

    return binary.mapInPandas(run, schema=FEATURE_SCHEMA).sortWithinPartitions(
        "doc_id"
    )


IMG_WIDTH = 16  # grayscale strip width for text→PNG synthesis
IMAGE_STATS_SCHEMA = (
    "doc_id bigint, width int, height int, channels int, "
    "pixel_sum bigint, first_px int"
)


def png_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload) where payload is a REAL PNG: each document's UTF-8
    bytes laid out as a 16-wide 8-bit grayscale image (zero-padded final
    row), encoded with the filter-cycling stdlib encoder so every scanline
    filter type appears in the corpus. Runs per Arrow batch in mapInPandas —
    payloads never hit the driver."""
    from pyspark import cloudpickle

    from database_toolbox_spark.functions import png as png_mod

    # the codec module pickles by value → workers need no repo sys.path
    cloudpickle.register_pickle_by_value(png_mod)
    encode = png_mod.encode_png
    # the codec stage is CPU-bound Python: spread it across all cores —
    # file-split parallelism alone gave 2 partitions for a 1.5 MB corpus,
    # serializing the work on 2 of 32 cores (and the same shape starves a
    # 1000-executor cluster reading few large files). Range partitioning
    # (not round-robin) so downstream per-doc reports are already globally
    # ordered: a final ORDER BY above an opaque Python stage makes the
    # range sampler execute the whole encode+decode pipeline a second
    # time per action (measured 2.1 s -> 0.8 s on image_jpeg_stats at
    # sf0.1); here the sampler scans only the pruned parquet columns.
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartitionByRange(n_parts, "doc_id")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def to_png(text: str) -> bytes:
            body = text.encode("utf-8")
            height = max(1, -(-len(body) // IMG_WIDTH))
            padded = body.ljust(IMG_WIDTH * height, b"\x00")
            return encode(padded, IMG_WIDTH, height, channels=1)

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": pdf["text"].map(to_png),
                }
            )

    return docs.mapInPandas(run, schema="doc_id bigint, payload binary")


def image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the declared hook: PNG payloads (built by
    `png_payloads`) are decoded back to pixels by the pure-stdlib decoder
    and reduced to per-image stats. The DuckDB oracle recomputes every
    value from the text's ASCII codes without touching PNG at all — an
    independent end-to-end check that encode→zlib→unfilter→pixels is
    byte-exact for every row."""
    from pyspark import cloudpickle

    from database_toolbox_spark.functions import png as png_mod

    cloudpickle.register_pickle_by_value(png_mod)
    decode = png_mod.decode_png
    payloads = png_payloads(spark, sf_dir)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def stats(payload: bytes) -> tuple:
            img = decode(payload)
            px = img["pixels"]
            return (
                img["width"], img["height"], img["channels"],
                sum(px), px[0] if px else -1,
            )

        for pdf in batches:
            cols = pdf["payload"].map(stats)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "width": cols.map(lambda t: t[0]).astype("int32"),
                    "height": cols.map(lambda t: t[1]).astype("int32"),
                    "channels": cols.map(lambda t: t[2]).astype("int32"),
                    "pixel_sum": cols.map(lambda t: t[3]).astype("int64"),
                    "first_px": cols.map(lambda t: t[4]).astype("int32"),
                }
            )

    # payloads are range-partitioned by doc_id (png_payloads), so a local
    # sort yields the same global doc_id order without the range-sampler
    # re-running the Python encode+decode stage (see png_payloads note)
    return payloads.mapInPandas(run, schema=IMAGE_STATS_SCHEMA).sortWithinPartitions(
        "doc_id"
    )


RESIZE_FACTOR = 2  # nearest-neighbor downsample: keep top-left of each 2x2
RESIZE_SCHEMA = (
    "doc_id bigint, out_width int, out_height int, sample_sum bigint"
)


def image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image RESIZE on real bytes: decode the PNG, nearest-neighbor
    downsample by 2 in both dimensions (keep the top-left pixel of each
    2×2 block — the deterministic NN convention), and reduce to stats.
    The oracle recomputes the sampled-pixel sum straight from ASCII codes
    at the strided positions, independent of the PNG pipeline entirely."""
    from pyspark import cloudpickle

    from database_toolbox_spark.functions import png as png_mod

    cloudpickle.register_pickle_by_value(png_mod)
    decode = png_mod.decode_png
    payloads = png_payloads(spark, sf_dir)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def resize(payload: bytes) -> tuple:
            img = decode(payload)
            w, h = img["width"], img["height"]
            px = np.frombuffer(img["pixels"], dtype=np.uint8).reshape(h, w)
            small = px[::RESIZE_FACTOR, ::RESIZE_FACTOR]
            return (small.shape[1], small.shape[0], int(small.sum()))

        for pdf in batches:
            cols = pdf["payload"].map(resize)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "out_width": cols.map(lambda t: t[0]).astype("int32"),
                    "out_height": cols.map(lambda t: t[1]).astype("int32"),
                    "sample_sum": cols.map(lambda t: t[2]).astype("int64"),
                }
            )

    # range-partitioned input (png_payloads) + local sort = same global
    # order, no second execution of the Python stage by the range sampler
    return payloads.mapInPandas(run, schema=RESIZE_SCHEMA).sortWithinPartitions(
        "doc_id"
    )


# --- JPEG (round-11): the lossy codec of the trio ---------------------------------
JPEG_CAP = 8           # bytes per doc -> one constant 8x8 block per byte
JPEG_BLOCKS_X = 2      # 16-px-wide strip = 2 blocks per block row
JPEG_Q00 = 16          # Annex-K luma DC step ("quality 50")
JPEG_STATS_SCHEMA = (
    "doc_id bigint, width int, height int, n_blocks int, "
    "pixel_sum bigint, first_px int"
)


def _jpeg_gray_builder(encode):
    """text -> grayscale-strip JPEG bytes. ONE definition shared by the
    jpeg_payloads registry op and the fused image_jpeg_stats kernel (the
    stats op builds payloads in-kernel to drop the chained
    payload->stats MapInPandas round trip; same closure = byte-identical
    payloads). Returned as a closure so cloudpickle ships it by value —
    /tmp-cwd driver sims have no repo sys.path on workers."""
    def to_jpeg(text: str) -> bytes:
        if not text.isascii():
            # the DuckDB oracle replays pixels from per-CHARACTER
            # codepoints (ascii(substr(...))) while this builder
            # slices BYTES; on multi-byte text the two silently
            # diverge — refuse loudly instead (round-11 ADVICE 1)
            raise ValueError(
                "jpeg_payloads: ASCII-only contract violated "
                f"(doc text contains non-ASCII): {text[:40]!r}"
            )
        body = text.encode("utf-8")[:JPEG_CAP]
        nb = max(1, len(body))
        rows = -(-nb // JPEG_BLOCKS_X)
        width = JPEG_BLOCKS_X * 8
        buf = bytearray(width * 8 * rows)  # missing blocks stay 0
        for k in range(len(body)):
            br, bc = divmod(k, JPEG_BLOCKS_X)
            v = body[k]
            for yy in range(8):
                base = (br * 8 + yy) * width + bc * 8
                buf[base:base + 8] = bytes([v]) * 8
        return encode(bytes(buf), width, rows * 8, channels=1)

    return to_jpeg


def jpeg_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload) where payload is a REAL baseline JPEG (SOF0 +
    Huffman + DCT, functions/jpeg.py): the document's first {JPEG_CAP}
    bytes laid out one byte per CONSTANT 8x8 block in a 16-px-wide strip.
    Constant blocks make the lossy decode exactly predictable (the DCT of
    a constant block is DC-only), which is what lets the oracle recompute
    every decoded pixel from ASCII codes without touching JPEG — while the
    bytes still travel the full entropy-code -> dequant -> IDCT pipeline.
    Runs per Arrow batch in mapInPandas; payloads never hit the driver."""
    from pyspark import cloudpickle

    from database_toolbox_spark.functions import jpeg as jpeg_mod

    cloudpickle.register_pickle_by_value(jpeg_mod)
    to_jpeg = _jpeg_gray_builder(jpeg_mod.encode_jpeg)
    # range partitioning: see png_payloads — keeps the final per-doc sort
    # local so the range sampler never re-runs the codec stage
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartitionByRange(n_parts, "doc_id")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": pdf["text"].map(to_jpeg),
                }
            )

    return docs.mapInPandas(run, schema="doc_id bigint, payload binary")


def image_jpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy-codec decode: JPEG payloads (jpeg_payloads) are entropy-
    decoded, dequantized, and IDCT'd back to pixels by the pure-stdlib
    baseline decoder, then reduced to per-image stats. The DuckDB oracle
    recomputes every value from ASCII codes through the closed-form
    constant-block reconstruction (2*floor((v-128)/2 + 0.5) + 128,
    clamped — see functions/jpeg.py docstring), independent of the codec
    end to end.

    Scale shape: ONE fused mapInPandas stage after a repartitioned pruned
    scan — payload assembly (the same _jpeg_gray_builder closure
    jpeg_payloads ships, so the bytes are identical), encode and decode
    all run in a single Python round trip; chaining this op on
    jpeg_payloads' output paid a second JVM<->Python Arrow transfer of
    the payload bytes for nothing (guide §4.2/§4.5, round-12 verdict
    item 4). Per-doc cost is bounded by the {JPEG_CAP}-block cap."""
    from pyspark import cloudpickle

    from database_toolbox_spark.functions import jpeg as jpeg_mod

    cloudpickle.register_pickle_by_value(jpeg_mod)
    decode = jpeg_mod.decode_jpeg
    to_jpeg = _jpeg_gray_builder(jpeg_mod.encode_jpeg)
    # range partitioning: see png_payloads — keeps the final per-doc sort
    # local so the range sampler never re-runs the codec stage
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartitionByRange(n_parts, "doc_id")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def stats(text: str) -> tuple:
            img = decode(to_jpeg(text))
            px = img["pixels"]
            return (
                img["width"], img["height"],
                (img["width"] // 8) * (img["height"] // 8),
                sum(px), px[0],
            )

        for pdf in batches:
            cols = pdf["text"].map(stats)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "width": cols.map(lambda t: t[0]).astype("int32"),
                    "height": cols.map(lambda t: t[1]).astype("int32"),
                    "n_blocks": cols.map(lambda t: t[2]).astype("int32"),
                    "pixel_sum": cols.map(lambda t: t[3]).astype("int64"),
                    "first_px": cols.map(lambda t: t[4]).astype("int32"),
                }
            )

    # range-partitioned input + local sort = same global order, no second
    # execution of the Python stage by the range sampler
    return docs.mapInPandas(run, schema=JPEG_STATS_SCHEMA).sortWithinPartitions(
        "doc_id"
    )


HIST_SCHEMA = (
    "doc_id bigint, b0 bigint, b1 bigint, b2 bigint, b3 bigint"
)


def image_histogram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brightness histogram on real decoded bytes: 4 bands of 64 gray
    levels per image, counted with a vectorized numpy bincount over the
    decoder's pixel buffer (zero padding included — it is part of the
    image). The feature-extraction shape for multimodal curation (e.g.
    dropping all-dark/clipped images). Oracle recomputes the bands from
    ASCII codes + the padding count, never touching PNG."""
    from pyspark import cloudpickle

    from database_toolbox_spark.functions import png as png_mod

    cloudpickle.register_pickle_by_value(png_mod)
    decode = png_mod.decode_png
    payloads = png_payloads(spark, sf_dir)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def hist(payload: bytes) -> tuple:
            px = np.frombuffer(decode(payload)["pixels"], dtype=np.uint8)
            counts = np.bincount(px >> 6, minlength=4)
            return tuple(int(c) for c in counts[:4])

        for pdf in batches:
            cols = pdf["payload"].map(hist)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    **{
                        f"b{k}": cols.map(lambda t, k=k: t[k]).astype(
                            "int64"
                        )
                        for k in range(4)
                    },
                }
            )

    # range-partitioned input (png_payloads) + local sort = same global
    # order, no second execution of the Python stage by the range sampler
    return payloads.mapInPandas(run, schema=HIST_SCHEMA).sortWithinPartitions(
        "doc_id"
    )


AUDIO_BIAS = 64  # synthetic 8-bit PCM center: space (32) < 64 <= letters,
# so word boundaries in the text produce real "zero" crossings
WAVEFORM_SCHEMA = (
    "doc_id bigint, n_samples int, peak int, energy bigint, crossings int"
)


def audio_waveform_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-style feature extraction: treat the binary payload as 8-bit
    PCM samples biased at AUDIO_BIAS and compute peak amplitude, exact
    integer energy (sum of squared deviations), and bias-crossing count —
    vectorized per Arrow batch with numpy (no per-sample Python). The
    oracle recomputes all three from ASCII codes in DuckDB."""
    # range-partition BEFORE the Python stage (see png_payloads note)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    binary = (
        with_binary_payload(spark, sf_dir)
        .select("doc_id", "payload")
        .repartitionByRange(n_parts, "doc_id")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def feats(payload: bytes) -> tuple:
            s = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
            if s.size == 0:
                return (0, 0, 0, 0)
            dev = s - AUDIO_BIAS
            high = s >= AUDIO_BIAS
            return (
                int(s.size),
                int(np.abs(dev).max()),
                int((dev * dev).sum()),
                int((high[1:] != high[:-1]).sum()),
            )

        for pdf in batches:
            cols = pdf["payload"].map(feats)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_samples": cols.map(lambda t: t[0]).astype("int32"),
                    "peak": cols.map(lambda t: t[1]).astype("int32"),
                    "energy": cols.map(lambda t: t[2]).astype("int64"),
                    "crossings": cols.map(lambda t: t[3]).astype("int32"),
                }
            )

    return binary.mapInPandas(run, schema=WAVEFORM_SCHEMA).sortWithinPartitions(
        "doc_id"
    )


WAV_BASE_RATE = 8000  # per-doc rate = 8000 + (doc_id % 3) * 4000, so the
# decoder's fmt parsing is exercised on more than one constant
WAV_SCALE = 256  # ascii deviation → int16 sample
WAV_SCHEMA = (
    "doc_id bigint, sample_rate int, n_frames int, peak int, "
    "energy bigint, crossings int"
)


def wav_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload) where payload is a REAL RIFF/WAVE file: each
    document's characters become 16-bit PCM samples ((ascii − AUDIO_BIAS)
    · 256) at a per-doc sample rate, serialized by the stdlib codec.
    Worker-side per Arrow batch — payloads never hit the driver."""
    from pyspark import cloudpickle

    from database_toolbox_spark.functions import wav as wav_mod

    cloudpickle.register_pickle_by_value(wav_mod)
    encode = wav_mod.encode_wav
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartitionByRange(n_parts, "doc_id")  # CPU-bound codec stage +
        # range layout for a local final sort; see png_payloads
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def to_wav(doc_id: int, text: str) -> bytes:
            samples = [
                (b - AUDIO_BIAS) * WAV_SCALE for b in text.encode("utf-8")
            ]
            rate = WAV_BASE_RATE + (doc_id % 3) * 4000
            return encode(samples, rate)

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": [
                        to_wav(i, t)
                        for i, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    return docs.mapInPandas(run, schema="doc_id bigint, payload binary")


def wav_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode: WAV payloads (built by `wav_payloads`) are parsed
    back through the stdlib RIFF chunk walker and reduced to integer
    waveform stats — all exact, so the WAV-independent DuckDB oracle
    (recomputed from ASCII codes) proves encode→chunk-walk→PCM is
    byte-faithful for every row."""
    from pyspark import cloudpickle

    from database_toolbox_spark.functions import wav as wav_mod

    cloudpickle.register_pickle_by_value(wav_mod)
    decode = wav_mod.decode_wav
    payloads = wav_payloads(spark, sf_dir)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def feats(payload: bytes) -> tuple:
            w = decode(payload)
            s = np.asarray(w["samples"], dtype=np.int64)
            if s.size == 0:
                return (w["sample_rate"], 0, 0, 0, 0)
            nonneg = s >= 0
            return (
                w["sample_rate"],
                w["n_frames"],
                int(np.abs(s).max()),
                int((s * s).sum()),
                int((nonneg[1:] != nonneg[:-1]).sum()),
            )

        for pdf in batches:
            cols = pdf["payload"].map(feats)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "sample_rate": cols.map(lambda t: t[0]).astype("int32"),
                    "n_frames": cols.map(lambda t: t[1]).astype("int32"),
                    "peak": cols.map(lambda t: t[2]).astype("int32"),
                    "energy": cols.map(lambda t: t[3]).astype("int64"),
                    "crossings": cols.map(lambda t: t[4]).astype("int32"),
                }
            )

    return payloads.mapInPandas(run, schema=WAV_SCHEMA).sortWithinPartitions(
        "doc_id"
    )


def binary_meta_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata aggregation over the binary column, per source —
    pure JVM-side (octet_length on binary), no Python."""
    return (
        with_binary_payload(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.octet_length("payload")).alias("total_bytes"),
            F.min(F.octet_length("payload")).alias("min_bytes"),
            F.max(F.octet_length("payload")).alias("max_bytes"),
        )
        .orderBy("source")
    )


def frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing for chunked payloads (video-style): split the
    payload into 32-byte frames, keep every 4th — pure SQL projection
    (sequence/transform), no Python, no shuffle."""
    load_table(spark, sf_dir, "documents")
    return spark.sql("""
        WITH b AS (
            SELECT doc_id, octet_length(encode(text, 'UTF-8')) AS n_bytes
            FROM documents
        )
        SELECT doc_id, frame_idx,
               least(32, n_bytes - (frame_idx - 1) * 32) AS frame_len
        FROM b
        LATERAL VIEW explode(
            filter(sequence(1, CAST(ceil(n_bytes / 32e0) AS INT)),
                   i -> (i - 1) % 4 = 0)
        ) AS frame_idx
        ORDER BY doc_id, frame_idx
    """)


QUERIES = {
    "image_histogram_stats": image_histogram_stats,
    "multimodal_decode_features": multimodal_decode_features,
    "image_decode_stats": image_decode_stats,
    "image_jpeg_stats": image_jpeg_stats,
    "image_resize_stats": image_resize_stats,
    "audio_waveform_stats": audio_waveform_stats,
    "wav_decode_stats": wav_decode_stats,
    "binary_meta_stats": binary_meta_stats,
    "frame_samples": frame_samples,
}

ORACLE = {
    # band counts from ASCII codes; zero padding (16*h - n bytes) is all
    # band 0 — the padding IS part of the decoded pixel buffer
    "image_histogram_stats": f"""
        WITH b AS (
            SELECT doc_id, text,
                   octet_length(encode(text)) AS n,
                   CAST(greatest(1, ceil(octet_length(encode(text))
                        / {IMG_WIDTH}e0)) AS BIGINT) AS h,
                   list_transform(range(1, length(text) + 1),
                                  i -> ascii(substr(text, i, 1))) AS codes
            FROM documents
        )
        SELECT doc_id,
               CAST(coalesce(len(list_filter(codes, c -> c < 64)), 0)
                    + (h * {IMG_WIDTH} - n) AS BIGINT) AS b0,
               CAST(coalesce(len(list_filter(codes,
                    c -> c >= 64 AND c < 128)), 0) AS BIGINT) AS b1,
               CAST(coalesce(len(list_filter(codes,
                    c -> c >= 128 AND c < 192)), 0) AS BIGINT) AS b2,
               CAST(coalesce(len(list_filter(codes, c -> c >= 192)), 0)
                    AS BIGINT) AS b3
        FROM b ORDER BY doc_id
    """,
    # independent byte-level recomputation from ASCII codes (text is ASCII)
    "multimodal_decode_features": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS INT) AS n_bytes,
               ascii(substr(text, 1, 1))               AS first_byte,
               CAST(list_aggregate(list_transform(range(1, length(text) + 1),
                        i -> ascii(substr(text, i, 1))), 'sum') % 65536
                    AS BIGINT)                         AS checksum
        FROM documents ORDER BY doc_id
    """,
    # full PNG-independent recomputation: width is the fixed strip width,
    # height the padded row count, pixel_sum the ASCII-code total (zero
    # padding adds nothing), first_px the first character's code
    "image_decode_stats": f"""
        SELECT doc_id,
               {IMG_WIDTH} AS width,
               CAST(greatest(1, ceil(octet_length(encode(text)) / {IMG_WIDTH}e0))
                    AS INT)                           AS height,
               1 AS channels,
               CAST(coalesce(list_aggregate(
                        list_transform(range(1, length(text) + 1),
                                       i -> ascii(substr(text, i, 1))),
                        'sum'), 0) AS BIGINT)         AS pixel_sum,
               CASE WHEN length(text) = 0 THEN 0
                    ELSE ascii(substr(text, 1, 1)) END AS first_px
        FROM documents ORDER BY doc_id
    """,
    # JPEG-independent recomputation: each of the first {JPEG_CAP} bytes
    # becomes a constant 8x8 block, whose lossy round trip is the closed
    # form 2*floor((v-128)/2 + 0.5) + 128 clamped to [0,255] (see
    # functions/jpeg.py: DC-only quantization at q00=16); padding blocks
    # decode to 0 and add nothing
    "image_jpeg_stats": f"""
        WITH c AS (
            SELECT doc_id,
                   list_transform(
                       range(1, least(length(text), {JPEG_CAP}) + 1),
                       i -> ascii(substr(text, i, 1))) AS s
            FROM documents
        ),
        d AS (
            SELECT doc_id, len(s) AS n,
                   list_transform(s, v -> greatest(0, least(255,
                       2 * CAST(floor((v - 128) / 2e0 + 0.5) AS BIGINT)
                       + 128))) AS dec
            FROM c
        )
        SELECT doc_id,
               {JPEG_BLOCKS_X * 8} AS width,
               CAST(8 * ceil(greatest(n, 1) / {JPEG_BLOCKS_X}e0) AS INT)
                   AS height,
               CAST({JPEG_BLOCKS_X} * ceil(greatest(n, 1)
                    / {JPEG_BLOCKS_X}e0) AS INT) AS n_blocks,
               CAST(64 * coalesce(list_aggregate(dec, 'sum'), 0)
                    AS BIGINT) AS pixel_sum,
               CAST(CASE WHEN n = 0 THEN 0 ELSE dec[1] END AS INT)
                   AS first_px
        FROM d ORDER BY doc_id
    """,
    # strided-position recomputation of the nearest-neighbor downsample:
    # kept pixels sit at byte index yo*2*16 + xo*2 (0-based); padding is 0
    "image_resize_stats": f"""
        WITH b AS (
            SELECT doc_id, text,
                   octet_length(encode(text)) AS n,
                   CAST(greatest(1, ceil(octet_length(encode(text)) / {IMG_WIDTH}e0))
                        AS INT) AS h
            FROM documents
        )
        SELECT doc_id,
               {IMG_WIDTH // RESIZE_FACTOR} AS out_width,
               CAST(ceil(h / {RESIZE_FACTOR}e0) AS INT) AS out_height,
               CAST(coalesce(list_aggregate(
                   flatten(list_transform(
                       range(0, CAST(ceil(h / {RESIZE_FACTOR}e0) AS INT)),
                       yo -> list_transform(range(0, {IMG_WIDTH // RESIZE_FACTOR}),
                           xo -> CASE
                               WHEN yo * {IMG_WIDTH * RESIZE_FACTOR} + xo * {RESIZE_FACTOR} < n
                               THEN ascii(substr(text,
                                    yo * {IMG_WIDTH * RESIZE_FACTOR} + xo * {RESIZE_FACTOR} + 1, 1))
                               ELSE 0 END))),
                   'sum'), 0) AS BIGINT) AS sample_sum
        FROM b ORDER BY doc_id
    """,
    "audio_waveform_stats": f"""
        WITH c AS (
            SELECT doc_id,
                   list_transform(range(1, length(text) + 1),
                                  i -> ascii(substr(text, i, 1))) AS s
            FROM documents
        )
        SELECT doc_id,
               CAST(len(s) AS INT) AS n_samples,
               CAST(coalesce(list_max(list_transform(s,
                        x -> abs(x - {AUDIO_BIAS}))), 0) AS INT) AS peak,
               CAST(coalesce(list_aggregate(list_transform(s,
                        x -> (x - {AUDIO_BIAS}) * (x - {AUDIO_BIAS})), 'sum'),
                    0) AS BIGINT) AS energy,
               CAST(coalesce(list_aggregate(list_transform(range(2, len(s) + 1),
                        i -> CASE WHEN (s[i-1] >= {AUDIO_BIAS})
                                       <> (s[i] >= {AUDIO_BIAS})
                                  THEN 1 ELSE 0 END), 'sum'),
                    0) AS INT) AS crossings
        FROM c ORDER BY doc_id
    """,
    # WAV-independent recomputation: sample s_i = (ascii_i − bias) · 256,
    # so peak/energy/crossings derive from ASCII codes; the per-doc rate
    # replays the encoder's formula. energy = 65536 · Σ(ascii − bias)²
    # (BIGINT multiply — the INTEGER list sum would overflow at ×65536).
    "wav_decode_stats": f"""
        WITH c AS (
            SELECT doc_id,
                   list_transform(range(1, length(text) + 1),
                                  i -> ascii(substr(text, i, 1))) AS s
            FROM documents
        )
        SELECT doc_id,
               CAST({WAV_BASE_RATE} + (doc_id % 3) * 4000 AS INT)
                   AS sample_rate,
               CAST(len(s) AS INT) AS n_frames,
               CAST(coalesce(list_max(list_transform(s,
                        x -> abs(x - {AUDIO_BIAS}))), 0) * {WAV_SCALE}
                    AS INT) AS peak,
               CAST(coalesce(list_aggregate(list_transform(s,
                        x -> (x - {AUDIO_BIAS}) * (x - {AUDIO_BIAS})), 'sum'),
                    0) AS BIGINT) * {WAV_SCALE * WAV_SCALE} AS energy,
               CAST(coalesce(list_aggregate(list_transform(range(2, len(s) + 1),
                        i -> CASE WHEN (s[i-1] >= {AUDIO_BIAS})
                                       <> (s[i] >= {AUDIO_BIAS})
                                  THEN 1 ELSE 0 END), 'sum'),
                    0) AS INT) AS crossings
        FROM c ORDER BY doc_id
    """,
    "binary_meta_stats": """
        SELECT source,
               count(*)                                   AS n_docs,
               CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
               CAST(min(octet_length(encode(text))) AS INT)    AS min_bytes,
               CAST(max(octet_length(encode(text))) AS INT)    AS max_bytes
        FROM documents GROUP BY source ORDER BY source
    """,
    "frame_samples": """
        WITH b AS (
            SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes
            FROM documents
        )
        SELECT doc_id, CAST(f.frame_idx AS INT) AS frame_idx,
               least(32, n_bytes - (f.frame_idx - 1) * 32) AS frame_len
        FROM b, LATERAL (
            SELECT unnest(list_filter(range(1, CAST(ceil(n_bytes / 32e0) AS INT) + 1),
                          i -> (i - 1) % 4 = 0)) AS frame_idx
        ) f
        ORDER BY doc_id, frame_idx
    """,
}


from database_toolbox_spark.operators._oracle import R  # noqa: E402

DHASH_SCHEMA = "doc_id bigint, dhash_hi bigint, dhash_lo bigint"


def _dhash_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dhash_hi, dhash_lo): dHash of every PNG payload in one
    Arrow-batched mapInPandas pass — shared by the fingerprint report and
    the near-dup pair join."""
    from pyspark import cloudpickle  # noqa: PLC0415

    from database_toolbox_spark.functions import png as png_mod  # noqa: PLC0415

    cloudpickle.register_pickle_by_value(png_mod)
    decode = png_mod.decode_png
    payloads = png_payloads(spark, sf_dir)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def dhash(payload: bytes) -> tuple:
            img = decode(payload)
            w, h = img["width"], img["height"]
            px = np.frombuffer(img["pixels"], dtype=np.uint8).reshape(h, w)
            ys = np.arange(8) * h // 8
            xs = np.arange(9) * w // 9
            grid = px[np.ix_(ys, xs)].astype(np.int64)
            bits = (grid[:, :8] > grid[:, 1:]).astype(np.int64).ravel()
            lo = int((bits[:32] << np.arange(32)).sum())
            hi = int((bits[32:] << np.arange(32)).sum())
            return (hi, lo)

        for pdf in batches:
            cols = pdf["payload"].map(dhash)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "dhash_hi": cols.map(lambda t: t[0]).astype("int64"),
                    "dhash_lo": cols.map(lambda t: t[1]).astype("int64"),
                }
            )

    return payloads.mapInPandas(run, schema=DHASH_SCHEMA)


def image_dhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual difference-hash (dHash) on REAL decoded pixels: decode
    each PNG, nearest-neighbor sample the grayscale strip down to a 9x8
    grid (floor-strided rows/cols — the same deterministic NN convention
    as image_resize_stats), emit 64 bits of left>right gradient, packed
    as two 32-bit halves (a single 64-bit pack would wrap BIGINT at bit
    63), plus the perceptual-dup count per hash. The oracle recomputes
    the identical grid straight from ASCII codes (floor arithmetic is
    exact in doubles at these magnitudes), independent of the PNG
    pipeline.

    Scale shape: decode + hash is one Arrow-batched mapInPandas pass
    (embarrassingly parallel, zero per-pixel Python); the dup count is
    one hash-partitioned window — at 100 TB the same two stages, plus a
    broadcast of nothing."""
    from pyspark.sql import Window  # noqa: PLC0415

    w = Window.partitionBy("dhash_hi", "dhash_lo")
    return (
        _dhash_hashed(spark, sf_dir)
        .withColumn("n_same_hash", F.count("*").over(w).cast("bigint"))
        .orderBy("doc_id")
    )


DFT_N = 16  # DFT frame: first 16 samples (zero-padded past text end)
DFT_BINS = 8


def _unrolled_samples(n: int) -> str:
    """Bias-centered leading-n byte samples as an UNROLLED array
    constructor — bit-exact twin of
    transform(sequence(0, n-1), i -> CASE WHEN i < length(text) THEN
    ascii(substr(text, CAST(i+1 AS INT), 1)) - AUDIO_BIAS ELSE 0 END)
    with the loop index a literal, so the per-element CASE/substr runs
    in WholeStageCodegen instead of the interpreted lambda path (guide
    §4.1; measured 0.65 s -> 0.26 s for the 64-sample projection alone
    at sf0.1)."""
    terms = ", ".join(
        f"CASE WHEN {i} < length(text) THEN "
        f"ascii(substr(text, {i + 1}, 1)) - {AUDIO_BIAS} ELSE 0 END"
        for i in range(n)
    )
    return f"array({terms})"


def audio_dft_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power spectrum of the leading 16-sample audio frame, computed AS
    SQL in both engines (no numpy, no FFT library): for each DFT bin k,
    P_k = (sum_i dev_i cos(2*pi*k*i/16))^2 + (sum_i dev_i sin(...))^2
    over the bias-centered 8-bit samples audio_waveform_stats defines
    (dev = byte - 64, zero past the end). The spectral-feature
    counterpart of the time-domain stats — bin 0 is (sum dev)^2, high
    bins expose the space/letter alternation frequency of the text
    corpus.

    The 16-term sums fold in position order in both dialects; cos/sin
    libm ulp differences between engines are absorbed by canon-rounding
    power (the ln() guard pattern), since the sums are O(2^11) and the
    powers O(2^22) — 2-decimal rounding leaves ~1e-9 relative headroom.

    Scale shape: a pure per-row projection exploded to 8 bins per doc —
    embarrassingly parallel, no shuffle, no UDF.

    Spark side (guide §4.1): the 16 samples are hoisted ONCE per doc
    (the inline spelling re-extracted each byte 2 * DFT_BINS times), the
    runtime cos/sin are replaced by the literal DFT basis matrix
    (audio_mel_energies' committed pattern — Python-computed doubles,
    at most one ulp from the JVM trig they replace, absorbed by the
    2-decimal canon rounding exactly as the engine-vs-oracle libm gap
    already is), and the interpreted aggregate() folds are unrolled into
    codegen arithmetic with the identical left-associated IEEE order.
    The oracle keeps the runtime-trig fold spelling. Measured 4.52 s ->
    0.69 s at sf0.1."""
    from database_toolbox_spark.operators._fold import (  # noqa: PLC0415
        unrolled_sum,
    )
    import math  # noqa: PLC0415

    load_table(spark, sf_dir, "documents")
    # transform (not an unrolled array): the array constructor would be
    # inlined by CollapseProject into every element_at reference across
    # the cross join (HOFs are exempt from inlining), re-extracting each
    # byte per (bin, term) — measured 3x slower unrolled here
    samples = (f"transform(sequence(0, {DFT_N - 1}), i -> "
               f"CASE WHEN i < length(text) THEN "
               f"ascii(substr(text, CAST(i + 1 AS INT), 1))"
               f" - {AUDIO_BIAS} ELSE 0 END)")

    def term(trig_col: str):
        return lambda i: (
            f"element_at(s.samples, {i + 1}) * "
            f"element_at({trig_col}, k.k * {DFT_N} + {i + 1})"
        )

    return spark.sql(f"""
        WITH k AS (SELECT explode(sequence(0, {DFT_BINS - 1})) AS k),
        trig AS (SELECT {_dft_trig_lit(math.cos, 'array')} AS cosm,
                        {_dft_trig_lit(math.sin, 'array')} AS sinm),
        s AS (SELECT doc_id, {samples} AS samples FROM documents),
        d AS (
            SELECT doc_id, k.k,
                   {unrolled_sum(term('cosm'), DFT_N, start=0)} AS re,
                   {unrolled_sum(term('sinm'), DFT_N, start=0)} AS im
            FROM s CROSS JOIN k CROSS JOIN trig
        )
        SELECT doc_id, CAST(k AS INT) AS bin,
               {R("re * re + im * im", 2)} AS power
        FROM d ORDER BY doc_id, bin
    """)


_DUCK_DFT_DEV = (f"CASE WHEN i < length(text) THEN "
                 f"ascii(substr(text, CAST(i + 1 AS INT), 1)) - {AUDIO_BIAS} "
                 f"ELSE 0 END")
_DUCK_DFT_TRIG = f"2e0 * pi() * k.k * i / {DFT_N}e0"

QUERIES["image_dhash_fingerprints"] = image_dhash_fingerprints
QUERIES["audio_dft_power"] = audio_dft_power

# dHash oracle: identical floor-strided 9x8 grid recomputed from ASCII
# codes; padding bytes are 0 exactly as in the decoded pixel buffer
_DHASH_ORACLE_CTES = f"""
    WITH b AS (
        SELECT doc_id,
               octet_length(encode(text)) AS n,
               CAST(greatest(1, ceil(octet_length(encode(text))
                    / {IMG_WIDTH}e0)) AS BIGINT) AS h,
               list_transform(range(1, length(text) + 1),
                              i -> ascii(substr(text, i, 1))) AS codes
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               list_transform(range(0, 8), gy ->
                   list_transform(range(0, 9), gx ->
                       CASE WHEN CAST(floor(gy * h / 8e0) AS BIGINT)
                                 * {IMG_WIDTH}
                                 + CAST(floor(gx * {IMG_WIDTH} / 9e0)
                                        AS BIGINT) < n
                            THEN codes[CAST(floor(gy * h / 8e0) AS BIGINT)
                                       * {IMG_WIDTH}
                                       + CAST(floor(gx * {IMG_WIDTH} / 9e0)
                                              AS BIGINT) + 1]
                            ELSE 0 END)) AS grid
        FROM b
    ),
    hsh AS (
        SELECT doc_id,
               list_aggregate(list_transform(range(0, 32), i ->
                   CASE WHEN grid[i // 8 + 5][i % 8 + 1]
                             > grid[i // 8 + 5][i % 8 + 2]
                        THEN CAST(1 AS BIGINT) << i ELSE 0 END),
                   'sum') AS dhash_hi,
               list_aggregate(list_transform(range(0, 32), i ->
                   CASE WHEN grid[i // 8 + 1][i % 8 + 1]
                             > grid[i // 8 + 1][i % 8 + 2]
                        THEN CAST(1 AS BIGINT) << i ELSE 0 END),
                   'sum') AS dhash_lo
        FROM g
    )
"""

ORACLE["image_dhash_fingerprints"] = _DHASH_ORACLE_CTES + """
    SELECT doc_id,
           CAST(coalesce(dhash_hi, 0) AS BIGINT) AS dhash_hi,
           CAST(coalesce(dhash_lo, 0) AS BIGINT) AS dhash_lo,
           CAST(count(*) OVER (PARTITION BY dhash_hi, dhash_lo) AS BIGINT)
               AS n_same_hash
    FROM hsh ORDER BY doc_id
"""

ORACLE["audio_dft_power"] = f"""
    WITH k AS (SELECT unnest(range(0, {DFT_BINS})) AS k),
    d AS (
        SELECT doc_id, k.k,
               list_aggregate(list_transform(range(0, {DFT_N}),
                   i -> ({_DUCK_DFT_DEV}) * cos({_DUCK_DFT_TRIG})),
                   'sum') AS re,
               list_aggregate(list_transform(range(0, {DFT_N}),
                   i -> ({_DUCK_DFT_DEV}) * sin({_DUCK_DFT_TRIG})),
                   'sum') AS im
        FROM documents CROSS JOIN k
    )
    SELECT doc_id, CAST(k AS INT) AS bin,
           {R("re * re + im * im", 2)} AS power
    FROM d ORDER BY doc_id, bin
"""


# --- mel filterbank energies over the SQL DFT --------------------------------
# The speech-feature front end every audio pipeline runs before anything
# learned (MFCC minus the DCT): triangular filters spaced evenly on the
# mel scale (Stevens-Volkmann 1940; mel(f) = 2595 log10(1 + f/700))
# pool the DFT power bins into perceptual bands. Built here on top of
# audio_dft_power's 16-point SQL DFT at a nominal {MEL_FS} Hz rate —
# the filterbank weights are PYTHON-computed literals (identical text in
# both dialects), and the pooling folds the CANON-ROUNDED powers in bin
# order, so both engines produce bit-identical energies.
MEL_FS = 8000        # nominal sample rate of the synthetic 8-bit PCM
N_MEL = 4            # triangular bands over DFT bins 0..DFT_BINS-1


def _mel_weights() -> list[list[float]]:
    """N_MEL x DFT_BINS triangular filterbank on the mel scale, weights
    rounded to 6 decimals so the SQL literals are short and identical in
    both dialects."""
    import math  # noqa: PLC0415

    def mel(f: float) -> float:
        return 2595.0 * math.log10(1.0 + f / 700.0)

    def imel(m: float) -> float:
        return 700.0 * (10.0 ** (m / 2595.0) - 1.0)

    f_max = (DFT_BINS - 1) * MEL_FS / DFT_N
    edges_m = [mel(0.0) + j * (mel(f_max) - mel(0.0)) / (N_MEL + 1)
               for j in range(N_MEL + 2)]
    edges = [imel(m) for m in edges_m]
    out = []
    for b in range(N_MEL):
        lo, mid, hi = edges[b], edges[b + 1], edges[b + 2]
        row = []
        for k in range(DFT_BINS):
            f = k * MEL_FS / DFT_N
            if lo < f <= mid:
                w = (f - lo) / (mid - lo)
            elif mid < f < hi:
                w = (hi - f) / (hi - mid)
            else:
                w = 0.0
            row.append(round(w, 6))
        out.append(row)
    return out


def _mel_rows(arr: str) -> str:
    """(band, weight-array) VALUES rows; `arr` formats a list literal
    per dialect."""
    return ", ".join(
        f"({b}, {arr}({', '.join(f'{w}e0' for w in row)}))"
        for b, row in enumerate(_mel_weights())
    )


def _dft_trig_vals(fn) -> list[float]:
    """Flattened {DFT_BINS}x{DFT_N} DFT basis matrix values (row k,
    col i at k*{DFT_N}+i), Python-computed once so every literal
    spelling (array CTE or inlined term) folds the identical doubles."""
    import math  # noqa: PLC0415

    return [
        fn(2.0 * math.pi * k * i / DFT_N)
        for k in range(DFT_BINS)
        for i in range(DFT_N)
    ]


def _trig_cast(v: float) -> str:
    # string-literal casts: repr() may carry its own exponent (e-17), so
    # the usual `...e0` double-suffix idiom would not parse; the string
    # round-trips to the identical double in both engines
    return f"CAST('{v!r}' AS DOUBLE)"


def _dft_trig_lit(fn, arr: str) -> str:
    """The basis matrix as a literal array — both engines fold the
    identical doubles, so no libm cos/sin ulp can diverge, and the
    interpreted lambdas do zero runtime trig."""
    return (f"{arr}("
            + ", ".join(_trig_cast(v) for v in _dft_trig_vals(fn)) + ")")


def audio_mel_energies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mel filterbank energies of the leading 16-sample audio frame:
    per doc and mel band, the triangle-weighted sum of the DFT power
    bins plus its log compression ln(1 + E) — the MFCC front half
    (filterbank + log), stopping before the DCT.

    Scale shape: one pure per-row projection — the 8 rounded DFT powers
    build against the literal basis matrix, the {N_MEL} band energies
    fold those against broadcast literal weight arrays; no shuffle, no
    UDF, no Python. At 100 TB this is a map-only stage.

    Interpreted-lambda economics (measured at sf0.1): the naive
    `re*re + im*im` spelling re-evaluated each 16-term trig fold twice
    (12.3 s); a struct accumulator + finish lambda halved the folds
    (5.7 s); samples hoisted + the literal basis matrix removed the
    per-bin string and trig work (1.07 s); round 12 unrolls every fold
    into codegen arithmetic — the samples array, the 8 re/im sums (with
    the basis literals INLINED per term, so the trig CTE disappears),
    and the 8-term band-energy fold — keeping the identical
    left-associated IEEE order (guide §4.1; 1.16 s -> 0.73 s). Same
    sums in the same order; the oracle keeps the fold spelling over the
    same literals."""
    import math  # noqa: PLC0415

    from database_toolbox_spark.operators._fold import (  # noqa: PLC0415
        unrolled_sum,
    )

    load_table(spark, sf_dir, "documents")
    cosv = _dft_trig_vals(math.cos)
    sinv = _dft_trig_vals(math.sin)

    def re_im(kk: int, vals: list[float]) -> str:
        return unrolled_sum(
            lambda i: (f"element_at(devs, {i + 1}) * "
                       f"{_trig_cast(vals[kk * DFT_N + i])}"),
            DFT_N, start=0,
        )

    def power(kk: int) -> str:
        re, im = re_im(kk, cosv), re_im(kk, sinv)
        return (f"floor(({re} * {re} + {im} * {im}) * 100e0"
                f" + 0.501e0) / 100e0")

    pw_arr = "array(" + ", ".join(power(kk) for kk in range(DFT_BINS)) + ")"
    energy = unrolled_sum(
        lambda k: f"element_at(pw, {k + 1}) * element_at(m.w, {k + 1})",
        DFT_BINS, start=0,
    )
    return spark.sql(f"""
        WITH m AS (SELECT * FROM VALUES {_mel_rows('array')} AS t(band, w)),
        p AS (
            SELECT doc_id, {pw_arr} AS pw
            FROM (
                SELECT doc_id, {_unrolled_samples(DFT_N)} AS devs
                FROM documents
            ) d
        ),
        e AS (
            SELECT p.doc_id, m.band, {energy} AS energy
            FROM p CROSS JOIN m
        )
        SELECT doc_id, CAST(band AS INT) AS mel_band,
               {R("energy", 2)} AS mel_energy,
               {R("ln(1e0 + energy)", 4)} AS log_mel_energy
        FROM e ORDER BY doc_id, mel_band
    """)


# the oracle folds devs against the SAME literal basis matrices in the
# same index order, so the sums are bit-identical to Spark's struct fold
_DUCK_MEL_RE = (
    f"list_aggregate(list_transform(range(0, {DFT_N}), "
    f"i -> devs[i + 1] * cosm[kk * {DFT_N} + i + 1]), 'sum')"
)
_DUCK_MEL_IM = (
    f"list_aggregate(list_transform(range(0, {DFT_N}), "
    f"i -> devs[i + 1] * sinm[kk * {DFT_N} + i + 1]), 'sum')"
)


def _duck_mel_oracle() -> str:
    import math  # noqa: PLC0415

    return f"""
    WITH m AS (SELECT * FROM (VALUES {_mel_rows('list_value')})
               AS t(band, w)),
    trig AS (SELECT {_dft_trig_lit(math.cos, 'list_value')} AS cosm,
                    {_dft_trig_lit(math.sin, 'list_value')} AS sinm),
    p AS (
        SELECT doc_id,
               list_transform(range(0, {DFT_BINS}), kk ->
                   floor((({_DUCK_MEL_RE}) * ({_DUCK_MEL_RE})
                          + ({_DUCK_MEL_IM}) * ({_DUCK_MEL_IM}))
                         * 100e0 + 0.501e0) / 100e0) AS pw
        FROM (
            SELECT doc_id,
                   list_transform(range(0, {DFT_N}), i ->
                       CAST({_DUCK_DFT_DEV} AS DOUBLE)) AS devs
            FROM documents
        ) d CROSS JOIN trig
    ),
    e AS (
        SELECT p.doc_id, m.band,
               list_aggregate(list_transform(range(0, {DFT_BINS}),
                   k -> pw[k + 1] * m.w[k + 1]), 'sum') AS energy
        FROM p CROSS JOIN m
    )
    SELECT doc_id, CAST(band AS INT) AS mel_band,
           {R("energy", 2)} AS mel_energy,
           {R("ln(1e0 + energy)", 4)} AS log_mel_energy
    FROM e ORDER BY doc_id, mel_band
"""


QUERIES["audio_mel_energies"] = audio_mel_energies
ORACLE["audio_mel_energies"] = _duck_mel_oracle()


# --- perceptual near-dup pairs over dHash -----------------------------------

DHASH_HAM_MAX = 6  # bits of the 64 allowed to differ
_DHASH_BANDS = 4  # 16-bit LSH bands over the packed halves


def _dhash_pairs_tail(intdiv, xor2, seeds: str) -> str:
    """Band-join + Hamming verify over a `hsh(doc_id, dhash_hi, dhash_lo)`
    relation: the 64-bit hash splits into 4 x 16-bit bands (2 per packed
    half), equal bands nominate candidates, and bit_count over the XORed
    halves verifies candidates only. Pigeonhole makes recall EXACT for
    Hamming <= 3 (4 bands cannot all be hit); at 4..DHASH_HAM_MAX a pair
    is found unless its differing bits spread across all four bands —
    the standard banding recall trade, same as MinHash LSH."""
    return f"""
        , bands AS (
            SELECT doc_id, t.b AS band,
                   CASE t.b
                        WHEN 0 THEN dhash_lo % 65536
                        WHEN 1 THEN {intdiv("dhash_lo", 65536)} % 65536
                        WHEN 2 THEN dhash_hi % 65536
                        ELSE {intdiv("dhash_hi", 65536)} % 65536
                   END AS bkey
            FROM hsh CROSS JOIN {seeds}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bkey = b.bkey
             AND a.doc_id < b.doc_id
        ),
        ver AS (
            SELECT c.doc_a, c.doc_b,
                   CAST(bit_count({xor2("x.dhash_lo", "y.dhash_lo")})
                        + bit_count({xor2("x.dhash_hi", "y.dhash_hi")})
                       AS INT) AS hamming
            FROM cand c
            JOIN hsh x ON x.doc_id = c.doc_a
            JOIN hsh y ON y.doc_id = c.doc_b
        )
        SELECT doc_a, doc_b, hamming
        FROM ver WHERE hamming <= {DHASH_HAM_MAX}
        ORDER BY doc_a, doc_b
    """


def image_dhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate image pairs: dHash each PNG (real decode,
    Arrow-batched), 4 x 16-bit band LSH for candidates, Hamming <= 6
    verify on candidates only — the image twin of the MinHash text
    pipeline, and the standard screen before training on scraped images
    (a resize/re-encode rarely flips more than a few gradient bits).

    Scale shape: hashes materialized once; candidate generation is a
    banded equi-join (never all-pairs); verification is two bit_count
    ops per candidate."""
    materialize(_dhash_hashed(spark, sf_dir)).createOrReplaceTempView(
        "dhash_hsh_v"
    )
    return spark.sql(
        "WITH hsh AS (SELECT * FROM dhash_hsh_v)"
        + _dhash_pairs_tail(
            lambda x, n: f"({x} DIV {n})",
            lambda a, b: f"({a} ^ {b})",
            "(SELECT explode(sequence(0, 3)) AS b) t",
        )
    )


QUERIES["image_dhash_near_dup_pairs"] = image_dhash_near_dup_pairs
ORACLE["image_dhash_near_dup_pairs"] = _DHASH_ORACLE_CTES + _dhash_pairs_tail(
    lambda x, n: f"({x} // {n})",
    lambda a, b: f"xor({a}, {b})",
    "(SELECT unnest(range(4)) AS b) t",
)


# --- spectrogram profile (framed DFT) ----------------------------------------

SPEC_FRAMES = 4  # non-overlapping 16-sample frames -> 64 leading samples


def _spectrogram_tail() -> str:
    """Corpus spectral profile given a `p(doc_id, f, k, power)` relation:
    per (frame, dominant bin) — the argmax bin over the frame's 8
    canon-rounded powers, ties to the LOWER bin — document count and mean
    frame energy. Rounding BEFORE the argmax is the determinism guard:
    cos/sin libm ulps differ between engines, and 2-decimal rounding of
    O(2^22) powers leaves ~1e-9 relative headroom (the audio_dft_power
    argument), so both engines pick the identical dominant bin."""
    return f"""
        tot AS (
            SELECT doc_id, f, sum(power) AS frame_energy FROM p
            GROUP BY doc_id, f
        ),
        dom AS (
            SELECT doc_id, f, min(k) AS dom_bin FROM (
                SELECT doc_id, f, k, power,
                       max(power) OVER (PARTITION BY doc_id, f) AS mx
                FROM p
            ) x WHERE power = mx GROUP BY doc_id, f
        )
        SELECT CAST(d.f AS INT) AS frame,
               CAST(d.dom_bin AS INT) AS dominant_bin,
               CAST(count(*) AS BIGINT) AS n_docs,
               {R("avg(t.frame_energy)", 2)} AS avg_frame_energy
        FROM dom d JOIN tot t ON t.doc_id = d.doc_id AND t.f = d.f
        GROUP BY d.f, d.dom_bin
        ORDER BY frame, dominant_bin
    """


def audio_spectrogram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Framed power spectrum — the spectrogram extension of
    audio_dft_power: SPEC_FRAMES non-overlapping 16-sample frames per
    document (frame f reads samples f*16..f*16+15, bias-centered, zero
    past text end), 8 DFT bins per frame, then the corpus-level
    (frame, dominant-bin) histogram with mean frame energy. The
    time-frequency feature a real audio pipeline feeds downstream
    (keyword spotting, VAD) — here with the deterministic byte-PCM stand-
    in the multimodal tier documents.

    Scale shape: one map-only Python stage emitting SPEC_FRAMES rows per
    doc, then one grouped rollup — no unbounded state.

    Spark side (guide §4.2 — hand whole batches to vectorized native
    code): the per-doc framed DFT is ONE numpy kernel inside
    mapInPandas. Bit-exactness is preserved operation for operation:
    the i-loop accumulates `acc = acc + dev_i * basis_i` as 16
    vectorized left-associated float64 steps (the exact IEEE sequence
    of the SQL fold), the basis values are math.cos/math.sin — the
    same literal-matrix doubles audio_mel_energies committed (at most
    one ulp from the JVM trig they replace, absorbed by the 2-decimal
    power rounding exactly as the engine-vs-oracle libm gap already
    is), the per-frame power rounding replays floor(x*100+0.501)/100,
    frame_energy sums the 8 rounded powers in ascending-bin order
    (the order Spark's partial aggregate consumed them), and the
    dominant bin is argmax-first = lowest tied bin. Only
    (doc_id, text) crosses the Python boundary, SPEC_FRAMES rows per
    doc come back, and the corpus-level rollup stays in SQL. The
    oracle keeps the runtime-trig SQL fold + window spelling
    unchanged. Measured 2.65 s -> 0.66 s at sf0.1; the SQL spelling's
    floor was ~1.5 s (interpreted-HOF sample extraction dominates —
    see audio_dft_power, which keeps the pure-SQL demonstration
    form)."""
    import math  # noqa: PLC0415

    n_samp = SPEC_FRAMES * DFT_N
    cosb = [[math.cos(2.0 * math.pi * k * i / DFT_N)
             for i in range(DFT_N)] for k in range(DFT_BINS)]
    sinb = [[math.sin(2.0 * math.pi * k * i / DFT_N)
             for i in range(DFT_N)] for k in range(DFT_BINS)]
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(n_parts)
    )

    def run(batches):
        import numpy as np  # noqa: PLC0415

        cos_m = np.array(cosb, dtype=np.float64)  # (BINS, N)
        sin_m = np.array(sinb, dtype=np.float64)
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            buf = np.zeros((n, n_samp), dtype=np.float64)
            mask = np.zeros((n, n_samp), dtype=bool)
            for j, s in enumerate(pdf["text"]):
                # ord() == ascii(substr(text, i+1, 1)) for ANY codepoint,
                # so no ASCII-only narrowing vs the SQL spelling
                head = s[:n_samp]
                buf[j, : len(head)] = np.fromiter(
                    map(ord, head), dtype=np.float64, count=len(head)
                )
                mask[j, : len(head)] = True
            dev = np.where(mask, buf - AUDIO_BIAS, 0.0)
            devf = dev.reshape(n, SPEC_FRAMES, DFT_N)
            re = np.zeros((n, SPEC_FRAMES, DFT_BINS), dtype=np.float64)
            im = np.zeros_like(re)
            # 16 left-associated accumulation steps — the SQL fold's
            # exact IEEE add/multiply sequence per (frame, bin)
            for i in range(DFT_N):
                re = re + devf[:, :, i : i + 1] * cos_m[None, None, :, i]
                im = im + devf[:, :, i : i + 1] * sin_m[None, None, :, i]
            power = np.floor((re * re + im * im) * 100.0 + 0.501) / 100.0
            fe = np.zeros((n, SPEC_FRAMES), dtype=np.float64)
            for k in range(DFT_BINS):  # ascending-bin left-assoc sum
                fe = fe + power[:, :, k]
            dom = np.argmax(power, axis=2)  # first max = lowest bin
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(
                        pdf["doc_id"].to_numpy(), SPEC_FRAMES
                    ),
                    "f": np.tile(np.arange(SPEC_FRAMES), n),
                    "frame_energy": fe.reshape(-1),
                    "dom_bin": dom.reshape(-1).astype("int32"),
                }
            )

    per_frame = docs.mapInPandas(
        run,
        schema="doc_id long, f int, frame_energy double, dom_bin int",
    )
    per_frame.createOrReplaceTempView("spec_frames")
    return spark.sql(f"""
        SELECT CAST(f AS INT) AS frame,
               CAST(dom_bin AS INT) AS dominant_bin,
               CAST(count(*) AS BIGINT) AS n_docs,
               {R("avg(frame_energy)", 2)} AS avg_frame_energy
        FROM spec_frames
        GROUP BY f, dom_bin
        ORDER BY frame, dominant_bin
    """)


_DUCK_SPEC_SAMPLES = (
    f"list_transform(range(0, {SPEC_FRAMES * DFT_N}), i -> "
    f"CASE WHEN i < length(text) THEN "
    f"ascii(substr(text, CAST(i + 1 AS INT), 1)) - {AUDIO_BIAS} "
    f"ELSE 0 END)")
_DUCK_SPEC_DEV = f"s.samples[CAST(f.f * {DFT_N} + i + 1 AS INT)]"

QUERIES["audio_spectrogram_profile"] = audio_spectrogram_profile
ORACLE["audio_spectrogram_profile"] = f"""
    WITH k AS (SELECT unnest(range(0, {DFT_BINS})) AS k),
    f AS (SELECT unnest(range(0, {SPEC_FRAMES})) AS f),
    s AS (SELECT doc_id, {_DUCK_SPEC_SAMPLES} AS samples FROM documents),
    d AS (
        SELECT doc_id, f.f, k.k,
               list_aggregate(list_transform(range(0, {DFT_N}),
                   i -> ({_DUCK_SPEC_DEV}) * cos({_DUCK_DFT_TRIG})),
                   'sum') AS re,
               list_aggregate(list_transform(range(0, {DFT_N}),
                   i -> ({_DUCK_SPEC_DEV}) * sin({_DUCK_DFT_TRIG})),
                   'sum') AS im
        FROM s CROSS JOIN f CROSS JOIN k
    ),
    p AS (
        SELECT doc_id, f, k, {R("re * re + im * im", 2)} AS power
        FROM d
    ),
    {_spectrogram_tail()}
"""


# --- image near-dup clusters ----------------------------------------------------


def image_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the dHash near-dup pair graph — the
    image twin of dedup.dup_clusters, completing the multimodal dedup
    path end to end: decode -> dHash -> banded LSH -> Hamming verify ->
    component clustering -> keep-one-per-cluster accounting.

    Scale shape: reuses the banded pair generation (never all-pairs) and
    dedup.connected_components' pointer-jumping min-label loop
    (O(log diameter) rounds of keyed joins); the oracle is the exact
    recursive-CTE closure, so hash-equality proves the iterative loop
    converged to the true components."""
    from database_toolbox_spark.operators.dedup import (  # noqa: PLC0415
        connected_components,
    )

    # materialized + single-partition: the verified pair graph is tiny
    # relative to the corpus, and the CC loop re-reads it every round
    pairs = materialize(
        image_dhash_near_dup_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .coalesce(1)
    )
    labels = connected_components(pairs)
    return (
        labels.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("cluster_size"),
            F.min("node").cast("bigint").alias("keep_doc"),
            (F.count("*") - 1).cast("bigint").alias("n_dropped"),
        )
        .selectExpr("CAST(label AS BIGINT) AS component", "cluster_size",
                    "keep_doc", "n_dropped")
        .orderBy("component")
    )


QUERIES["image_dup_clusters"] = image_dup_clusters

_DHASH_TAIL_FOR_CC = _dhash_pairs_tail(
    lambda x, n: f"({x} // {n})",
    lambda a, b: f"xor({a}, {b})",
    "(SELECT unnest(range(4)) AS b) t",
)
_DHASH_TAIL_FOR_CC = _DHASH_TAIL_FOR_CC[
    : _DHASH_TAIL_FOR_CC.rindex("SELECT doc_a")
]

ORACLE["image_dup_clusters"] = (
    _DHASH_ORACLE_CTES.replace("WITH b AS", "WITH RECURSIVE b AS", 1)
    + _DHASH_TAIL_FOR_CC
    + f""", pairs AS (
            SELECT doc_a, doc_b FROM ver WHERE hamming <= {DHASH_HAM_MAX}
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL SELECT doc_b, doc_a FROM pairs
        ),
        members AS (
            SELECT doc_a AS node FROM pairs UNION SELECT doc_b FROM pairs
        ),
        reach(node, member) AS (
            SELECT node, node FROM members
            UNION
            SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.member
        ),
        rep AS (
            SELECT node, min(member) AS component FROM reach GROUP BY node
        )
        SELECT CAST(component AS BIGINT) AS component,
               CAST(count(*) AS BIGINT) AS cluster_size,
               CAST(min(node) AS BIGINT) AS keep_doc,
               CAST(count(*) - 1 AS BIGINT) AS n_dropped
        FROM rep GROUP BY component ORDER BY component
    """
)


# --- JPEG color path (round-11): RGB -> YCbCr -> quant -> IDCT -> RGB ---------------
JPEG_RGB_CAP = 4   # bytes per doc -> one constant RGB 8x8 block per byte
JPEG_RGB_STATS_SCHEMA = (
    "doc_id bigint, width int, height int, n_blocks int, "
    "r_sum bigint, g_sum bigint, b_sum bigint, "
    "first_r int, first_g int, first_b int"
)


def _jpeg_rgb_builder(encode):
    """text -> 4:4:4 color-strip JPEG bytes; ONE definition shared by
    rgb_jpeg_payloads and the fused image_jpeg_rgb_stats kernel (see
    _jpeg_gray_builder)."""
    def to_jpeg(text: str) -> bytes:
        if not text.isascii():
            # same byte-vs-codepoint oracle contract as
            # jpeg_payloads above (round-11 ADVICE item 1)
            raise ValueError(
                "rgb_jpeg_payloads: ASCII-only contract violated "
                f"(doc text contains non-ASCII): {text[:40]!r}"
            )
        body = text.encode("utf-8")[:JPEG_RGB_CAP] or b"\x00"
        buf = bytearray()
        for v in body:
            px = bytes((v, (3 * v + 7) % 256, (5 * v + 13) % 256)) * 8
            buf += px * 8  # 8 rows of the constant RGB row
        return encode(bytes(buf), 8, 8 * len(body), channels=3)

    return to_jpeg


def rgb_jpeg_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload) where payload is a REAL 3-component baseline
    JPEG (YCbCr 4:4:4): each of the doc's first {JPEG_RGB_CAP} bytes v
    becomes one constant RGB 8x8 block (r, g, b) = (v, (3v+7)%256,
    (5v+13)%256), stacked vertically in an 8-px-wide strip. Constant
    blocks keep every stage of the COLOR pipeline closed-form: BT.601
    forward conversion (half-up doubles), per-channel DC quantization
    (luma q00=16, chroma q00=17), IDCT, and the inverse conversion —
    so the oracle can recompute decoded r/g/b sums from ASCII codes
    with no JPEG anywhere."""
    from pyspark import cloudpickle

    from database_toolbox_spark.functions import jpeg as jpeg_mod

    cloudpickle.register_pickle_by_value(jpeg_mod)
    to_jpeg = _jpeg_rgb_builder(jpeg_mod.encode_jpeg)
    # range partitioning: see png_payloads — keeps the final per-doc sort
    # local so the range sampler never re-runs the codec stage
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartitionByRange(n_parts, "doc_id")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": pdf["text"].map(to_jpeg),
                }
            )

    return docs.mapInPandas(run, schema="doc_id bigint, payload binary")


def image_jpeg_rgb_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode the color JPEGs (rgb_jpeg_payloads) through the full
    baseline pipeline — Huffman, per-table dequant, IDCT, YCbCr->RGB —
    and reduce to per-channel sums + the first pixel. The oracle
    replays the whole chain in SQL arithmetic (see _JPEG_RGB_ORACLE).

    Scale shape: same as image_jpeg_stats — ONE fused mapInPandas stage
    (payload assembly via the shared _jpeg_rgb_builder closure + encode +
    decode in a single Python round trip) after a repartitioned pruned
    scan, per-doc cost bounded by the {JPEG_RGB_CAP}-block cap (x3
    channels)."""
    from pyspark import cloudpickle

    from database_toolbox_spark.functions import jpeg as jpeg_mod

    cloudpickle.register_pickle_by_value(jpeg_mod)
    decode = jpeg_mod.decode_jpeg
    to_jpeg = _jpeg_rgb_builder(jpeg_mod.encode_jpeg)
    # range partitioning: see png_payloads — keeps the final per-doc sort
    # local so the range sampler never re-runs the codec stage
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartitionByRange(n_parts, "doc_id")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def stats(text: str) -> tuple:
            img = decode(to_jpeg(text))
            px = img["pixels"]
            return (
                img["width"], img["height"],
                (img["width"] // 8) * (img["height"] // 8),
                sum(px[0::3]), sum(px[1::3]), sum(px[2::3]),
                px[0], px[1], px[2],
            )

        for pdf in batches:
            cols = pdf["text"].map(stats)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "width": cols.map(lambda t: t[0]).astype("int32"),
                    "height": cols.map(lambda t: t[1]).astype("int32"),
                    "n_blocks": cols.map(lambda t: t[2]).astype("int32"),
                    "r_sum": cols.map(lambda t: t[3]).astype("int64"),
                    "g_sum": cols.map(lambda t: t[4]).astype("int64"),
                    "b_sum": cols.map(lambda t: t[5]).astype("int64"),
                    "first_r": cols.map(lambda t: t[6]).astype("int32"),
                    "first_g": cols.map(lambda t: t[7]).astype("int32"),
                    "first_b": cols.map(lambda t: t[8]).astype("int32"),
                }
            )

    # range-partitioned input + local sort = same global order, no second
    # execution of the Python stage by the range sampler
    return docs.mapInPandas(
        run, schema=JPEG_RGB_STATS_SCHEMA
    ).sortWithinPartitions("doc_id")


def _jpeg_rgb_oracle() -> str:
    # the exact double spelling of functions/jpeg.py's color chain —
    # identical literals and left-to-right operation order, so the IEEE
    # doubles (and therefore every floor(x + 0.5)) match bit-for-bit
    def clamp(x: str) -> str:
        return f"greatest(0, least(255, {x}))"

    def rhu(x: str) -> str:
        return f"CAST(floor(({x}) + 0.5e0) AS BIGINT)"

    def decq(c: str, q: int) -> str:
        # DC-only block reconstruction: quantize 8*(c-128)/q half-up,
        # dequantize, IDCT (= R/8 exactly), shift, round, clamp
        fq = f"floor(8e0 * (({c}) - 128) / {q}e0 + 0.5e0)"
        return clamp(
            f"CAST(floor({q} * {fq} / 8e0 + 0.5e0) AS BIGINT) + 128"
        )

    y = clamp(rhu("0.299e0 * r + 0.587e0 * g + 0.114e0 * b"))
    cb = clamp(rhu("128e0 - 0.168736e0 * r - 0.331264e0 * g"
                   " + 0.5e0 * b"))
    cr = clamp(rhu("128e0 + 0.5e0 * r - 0.418688e0 * g"
                   " - 0.081312e0 * b"))
    r2 = clamp(rhu("y2 + 1.402e0 * (cr2 - 128)"))
    g2 = clamp(rhu("y2 - 0.344136e0 * (cb2 - 128)"
                   " - 0.714136e0 * (cr2 - 128)"))
    b2 = clamp(rhu("y2 + 1.772e0 * (cb2 - 128)"))
    return f"""
        WITH c AS (
            SELECT doc_id,
                   CASE WHEN length(text) = 0 THEN [0]
                        ELSE list_transform(
                            range(1, least(length(text),
                                           {JPEG_RGB_CAP}) + 1),
                            i -> ascii(substr(text, i, 1))) END AS s
            FROM documents
        ),
        px AS (
            SELECT doc_id, len(s) AS nb, unnest(s) AS v,
                   generate_subscripts(s, 1) AS k
            FROM c
        ),
        rgb AS (
            SELECT doc_id, nb, k, v AS r,
                   (3 * v + 7) % 256 AS g,
                   (5 * v + 13) % 256 AS b
            FROM px
        ),
        ycc AS (
            SELECT doc_id, nb, k, {y} AS y0, {cb} AS cb0, {cr} AS cr0
            FROM rgb
        ),
        rec AS (
            SELECT doc_id, nb, k,
                   {decq("y0", 16)} AS y2,
                   {decq("cb0", 17)} AS cb2,
                   {decq("cr0", 17)} AS cr2
            FROM ycc
        ),
        out_px AS (
            SELECT doc_id, nb, k, {r2} AS r2, {g2} AS g2, {b2} AS b2
            FROM rec
        )
        SELECT doc_id,
               8 AS width,
               CAST(8 * max(nb) AS INT) AS height,
               CAST(max(nb) AS INT) AS n_blocks,
               CAST(64 * sum(r2) AS BIGINT) AS r_sum,
               CAST(64 * sum(g2) AS BIGINT) AS g_sum,
               CAST(64 * sum(b2) AS BIGINT) AS b_sum,
               CAST(max(CASE WHEN k = 1 THEN r2 END) AS INT) AS first_r,
               CAST(max(CASE WHEN k = 1 THEN g2 END) AS INT) AS first_g,
               CAST(max(CASE WHEN k = 1 THEN b2 END) AS INT) AS first_b
        FROM out_px
        GROUP BY doc_id
        ORDER BY doc_id
    """


QUERIES["image_jpeg_rgb_stats"] = image_jpeg_rgb_stats
ORACLE["image_jpeg_rgb_stats"] = _jpeg_rgb_oracle()


# --- 4:2:0 chroma-subsampled JPEG (the dominant real-world wire format) -----
JPEG_420_CAP = 3  # bytes per doc -> one constant-RGB 16x16 MCU per byte


def _jpeg_420_builder(encode):
    """text -> 4:2:0 MCU-strip JPEG bytes; ONE definition shared by
    jpeg420_payloads and the fused image_jpeg_420_stats kernel (see
    _jpeg_gray_builder)."""
    def to_jpeg(text: str) -> bytes:
        if not text.isascii():
            # byte-vs-codepoint oracle contract, as jpeg_payloads
            raise ValueError(
                "jpeg420_payloads: ASCII-only contract violated "
                f"(doc text contains non-ASCII): {text[:40]!r}"
            )
        body = text.encode("utf-8")[:JPEG_420_CAP] or b"\x00"
        buf = bytearray()
        for v in body:
            px = bytes((v, (3 * v + 7) % 256, (5 * v + 13) % 256)) * 16
            buf += px * 16  # 16 rows of the constant RGB row
        return encode(
            bytes(buf), 16, 16 * len(body), channels=3,
            subsampling="420",
        )

    return to_jpeg


def jpeg420_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload) where payload is a REAL 4:2:0 baseline JPEG:
    each of the doc's first {JPEG_420_CAP} bytes v becomes one constant
    RGB 16x16 MCU (r, g, b) = (v, (3v+7)%256, (5v+13)%256), stacked
    vertically in a 16-px-wide strip. A constant MCU keeps the whole
    4:2:0 pipeline closed-form: the 2x2 box average of a constant is
    that constant ((4v+2)//4 = v exactly), the four luma blocks and both
    chroma blocks are constant 8x8 blocks, and replication upsampling of
    a constant is the identity — so the DuckDB oracle can replay every
    decoded pixel in SQL arithmetic while the bytes still travel the
    full MCU-interleaved entropy-code -> dequant -> IDCT -> upsample ->
    YCbCr->RGB pipeline. Runs per Arrow batch in mapInPandas."""
    from pyspark import cloudpickle

    from database_toolbox_spark.functions import jpeg as jpeg_mod

    cloudpickle.register_pickle_by_value(jpeg_mod)
    to_jpeg = _jpeg_420_builder(jpeg_mod.encode_jpeg)
    # range partitioning: see png_payloads — keeps the final per-doc sort
    # local so the range sampler never re-runs the codec stage
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartitionByRange(n_parts, "doc_id")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": pdf["text"].map(to_jpeg),
                }
            )

    return docs.mapInPandas(run, schema="doc_id bigint, payload binary")


def image_jpeg_420_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode the 4:2:0 JPEGs (jpeg420_payloads) through the full
    subsampled pipeline — MCU-interleaved Huffman scan, per-table
    dequant, IDCT, chroma replication upsample, YCbCr->RGB — and reduce
    to per-channel sums + the first pixel. The oracle replays the whole
    chain in SQL arithmetic (the box average is exact identity on the
    constant MCUs; non-constant inputs are covered by the codec's
    fuzz-vs-replay pytest anchors, tests/test_round12_ops.py).

    Scale shape: same as image_jpeg_rgb_stats — ONE fused mapInPandas
    stage (payload assembly via the shared _jpeg_420_builder closure +
    encode + decode in a single Python round trip) after a repartitioned
    pruned scan, per-doc cost bounded by the {JPEG_420_CAP}-MCU cap
    (6 blocks per MCU)."""
    from pyspark import cloudpickle

    from database_toolbox_spark.functions import jpeg as jpeg_mod

    cloudpickle.register_pickle_by_value(jpeg_mod)
    decode = jpeg_mod.decode_jpeg
    to_jpeg = _jpeg_420_builder(jpeg_mod.encode_jpeg)
    # range partitioning: see png_payloads — keeps the final per-doc sort
    # local so the range sampler never re-runs the codec stage
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartitionByRange(n_parts, "doc_id")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def stats(text: str) -> tuple:
            img = decode(to_jpeg(text))
            px = img["pixels"]
            return (
                img["width"], img["height"],
                (img["width"] // 16) * (img["height"] // 16),
                sum(px[0::3]), sum(px[1::3]), sum(px[2::3]),
                px[0], px[1], px[2],
            )

        for pdf in batches:
            cols = pdf["text"].map(stats)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "width": cols.map(lambda t: t[0]).astype("int32"),
                    "height": cols.map(lambda t: t[1]).astype("int32"),
                    "n_mcus": cols.map(lambda t: t[2]).astype("int32"),
                    "r_sum": cols.map(lambda t: t[3]).astype("int64"),
                    "g_sum": cols.map(lambda t: t[4]).astype("int64"),
                    "b_sum": cols.map(lambda t: t[5]).astype("int64"),
                    "first_r": cols.map(lambda t: t[6]).astype("int32"),
                    "first_g": cols.map(lambda t: t[7]).astype("int32"),
                    "first_b": cols.map(lambda t: t[8]).astype("int32"),
                }
            )

    schema = JPEG_RGB_STATS_SCHEMA.replace("n_blocks", "n_mcus")
    # range-partitioned input + local sort = same global order, no second
    # execution of the Python stage by the range sampler
    return docs.mapInPandas(run, schema=schema).sortWithinPartitions(
        "doc_id"
    )


def _jpeg_420_oracle() -> str:
    # identical literals/order as _jpeg_rgb_oracle; the only 4:2:0
    # deltas are the 16x16 MCU geometry (256 px per byte) and that the
    # chroma constants pass through the (exact-identity) box average
    def clamp(x: str) -> str:
        return f"greatest(0, least(255, {x}))"

    def rhu(x: str) -> str:
        return f"CAST(floor(({x}) + 0.5e0) AS BIGINT)"

    def decq(c: str, q: int) -> str:
        fq = f"floor(8e0 * (({c}) - 128) / {q}e0 + 0.5e0)"
        return clamp(
            f"CAST(floor({q} * {fq} / 8e0 + 0.5e0) AS BIGINT) + 128"
        )

    y = clamp(rhu("0.299e0 * r + 0.587e0 * g + 0.114e0 * b"))
    cb = clamp(rhu("128e0 - 0.168736e0 * r - 0.331264e0 * g"
                   " + 0.5e0 * b"))
    cr = clamp(rhu("128e0 + 0.5e0 * r - 0.418688e0 * g"
                   " - 0.081312e0 * b"))
    r2 = clamp(rhu("y2 + 1.402e0 * (cr2 - 128)"))
    g2 = clamp(rhu("y2 - 0.344136e0 * (cb2 - 128)"
                   " - 0.714136e0 * (cr2 - 128)"))
    b2 = clamp(rhu("y2 + 1.772e0 * (cb2 - 128)"))
    return f"""
        WITH c AS (
            SELECT doc_id,
                   CASE WHEN length(text) = 0 THEN [0]
                        ELSE list_transform(
                            range(1, least(length(text),
                                           {JPEG_420_CAP}) + 1),
                            i -> ascii(substr(text, i, 1))) END AS s
            FROM documents
        ),
        px AS (
            SELECT doc_id, len(s) AS nm, unnest(s) AS v,
                   generate_subscripts(s, 1) AS k
            FROM c
        ),
        rgb AS (
            SELECT doc_id, nm, k, v AS r,
                   (3 * v + 7) % 256 AS g,
                   (5 * v + 13) % 256 AS b
            FROM px
        ),
        ycc AS (
            SELECT doc_id, nm, k, {y} AS y0, {cb} AS cb0, {cr} AS cr0
            FROM rgb
        ),
        rec AS (
            SELECT doc_id, nm, k,
                   {decq("y0", 16)} AS y2,
                   {decq("cb0", 17)} AS cb2,
                   {decq("cr0", 17)} AS cr2
            FROM ycc
        ),
        out_px AS (
            SELECT doc_id, nm, k, {r2} AS r2, {g2} AS g2, {b2} AS b2
            FROM rec
        )
        SELECT doc_id,
               16 AS width,
               CAST(16 * max(nm) AS INT) AS height,
               CAST(max(nm) AS INT) AS n_mcus,
               CAST(256 * sum(r2) AS BIGINT) AS r_sum,
               CAST(256 * sum(g2) AS BIGINT) AS g_sum,
               CAST(256 * sum(b2) AS BIGINT) AS b_sum,
               CAST(max(CASE WHEN k = 1 THEN r2 END) AS INT) AS first_r,
               CAST(max(CASE WHEN k = 1 THEN g2 END) AS INT) AS first_g,
               CAST(max(CASE WHEN k = 1 THEN b2 END) AS INT) AS first_b
        FROM out_px
        GROUP BY doc_id
        ORDER BY doc_id
    """


QUERIES["image_jpeg_420_stats"] = image_jpeg_420_stats
ORACLE["image_jpeg_420_stats"] = _jpeg_420_oracle()
