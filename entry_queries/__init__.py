"""Gate-query registry: every query/oracle pair lives here, grouped by
domain; ``__spark_entry__`` is a thin facade over this package."""

from .common import (R, _ensure_session_confs, _t, _events, _lineitem,  # noqa: F401
                     _orders_right, _ORDERS_RIGHT_SQL)
from .ts_core import *  # noqa: F401,F403
from .pipeline_q import *  # noqa: F401,F403
from .pipeline_q import (_sql_minhash_lsh, _sql_simhash, _sql_simhash_pairs,  # noqa: F401
                         _sql_lsh_ann, _sql_ivf_ann, _sql_embedding_dedup,
                         _sql_text_stats, _sql_lang_confusion,
                         _sql_interval_custom_clock)
from .extras_q import *  # noqa: F401,F403
from .extras_q import (_sql_bloom_dedup, _sql_dedup_clusters,  # noqa: F401
                       _sql_hash_split, _sql_ivf_ann_trained,
                       _sql_semantic_dedup, _sql_temperature_mix,
                       _sql_hashed_classifier, _sql_pca_project,
                       _sql_lang_trigram, _sql_cms_counts,
                       _sql_zorder_key, _sql_logreg_quality, _sql_bm25,
                       _sql_pagerank, _sql_lead_lag,
                       _sql_bpe_tokens,
                       _sql_dsir, _sql_holt_winters, _sql_ivfpq,
                       _sql_kmv_distinct, _sql_corpus_pipeline,
                       _sql_back_adjust, _sql_correlation_cross)
