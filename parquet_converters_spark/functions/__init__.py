from parquet_converters_spark.functions.text import (  # noqa: F401
    tokens,
    token_count,
    quality_score,
    language_scores,
    language_id,
    doc_fingerprint,
    shingles,
    char_entropy,
    with_char_entropy_arrow,
    normalize_text,
)
from parquet_converters_spark.functions.dedup import (  # noqa: F401
    content_hash,
    exact_dedup,
    minhash_signatures,
    minhash_lsh_pairs,
    near_dedup_pipeline,
    near_dedup_survivors,
    simhash,
    simhash_neardup_pairs,
    ngram_jaccard_pairs,
    cross_source_shingles,
)
from parquet_converters_spark.functions.similarity import (  # noqa: F401
    cosine_similarity,
    cosine_topk,
    ivf_topk,
    lsh_bucket_ann,
    embedding_neardup_pairs,
    vec_norm,
    quantize_int8,
)
from parquet_converters_spark.functions.multimodal import (  # noqa: F401
    decode_media,
    documents_as_media,
    media_metadata,
    resize_media,
    sample_frames,
    extract_audio_features,
)
from parquet_converters_spark.functions.media_codecs import (  # noqa: F401
    decode_bmp,
    decode_png,
    decode_wav,
    encode_bmp,
    encode_png,
    encode_wav,
    resize_nearest,
)
from parquet_converters_spark.functions.jpeg_codec import (  # noqa: F401
    decode_jpeg,
    encode_jpeg,
)
from parquet_converters_spark.functions.gif_codec import (  # noqa: F401
    decode_gif,
    encode_gif,
    parse_gif_frames,
)
from parquet_converters_spark.functions.avi_codec import (  # noqa: F401
    encode_avi_mjpeg,
    parse_avi_mjpeg,
)
from parquet_converters_spark.functions.webp_codec import (  # noqa: F401
    decode_webp,
    encode_webp_anim,
    encode_webp_lossless,
    parse_webp_frames,
)
from parquet_converters_spark.functions.sketches import (  # noqa: F401
    approx_distinct,
    approx_quantiles,
    heavy_hitters,
)
from parquet_converters_spark.functions.sampling import (  # noqa: F401
    chunk_documents,
    hash_bucket,
    hash_split,
    pack_sequences,
)
from parquet_converters_spark.functions.profile import profile_table  # noqa: F401
from parquet_converters_spark.functions.image_fingerprint import (  # noqa: F401,E501
    ahash64_unsigned,
    dhash64_unsigned,
    hamming_neardup_pairs,
    image_dedup_gate,
    image_hashes,
    image_neardup_survivors,
    phash64_unsigned,
    video_frame_hashes,
)
from parquet_converters_spark.functions.audio_fingerprint import (  # noqa: F401,E501
    audio_fingerprints,
    fingerprint_hash,
    spectral_peak_bins,
)
from parquet_converters_spark.functions.text import (  # noqa: F401
    bpe_token_counts,
    learn_bpe_merges,
)
