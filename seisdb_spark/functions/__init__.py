"""Expression library for the LLM-data-pipeline surface (SURVEY §2.11).

Pure column-expression builders — every function here returns Columns or
DataFrames built from ``pyspark.sql.functions`` so the hot path stays inside
whole-stage codegen; the single Python boundary (multimodal payload decode)
is an Arrow-batched ``mapInPandas``.

    text.py        shingling, MinHash, SimHash, token estimates, lang scoring
    vectors.py     dot/norm chains, sign-bucket LSH keys for embeddings
    cluster.py     iterative Lloyd k-means refinement (map-only assignment)
    graph.py       connected components (lazy union-find / pointer jumping)
                   and superstep_loop, the shared fixpoint-loop scaffold
    multimodal.py  BinaryType payload + typed-metadata plumbing and decode
"""

from seisdb_spark.functions.cluster import (  # noqa: F401
    assign_clusters,
    lloyd_refine,
    seed_centroids,
)
from seisdb_spark.functions.graph import (  # noqa: F401
    cc_exact_lazy,
    connected_components,
    undirect,
)
from seisdb_spark.functions.text import (  # noqa: F401
    lang_scores,
    minhash_agg_exprs,
    shingle_tokens,
    simhash_agg,
    with_token_hash,
    word_tokens,
)
from seisdb_spark.functions.vectors import (  # noqa: F401
    adaptive_bits_col,
    adaptive_bits_sql,
    dot_chain_col,
    dot_chain_sql,
    sign_string_expr,
    sign_string_sql,
)
from seisdb_spark.functions.multimodal import (  # noqa: F401
    PAYLOAD_META_SCHEMA,
    decode_fake_audio,
    decode_fake_image_headers,
    decode_payload_features,
    documents_as_binary,
    resize_fake_images,
    sample_fake_video_frames,
)
