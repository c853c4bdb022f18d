from .similarity import (cosine_topk, embedding_near_dup_pairs,  # noqa: F401
                         ivf_cosine_topk, lsh_cosine_topk)
from .text import (LANGS, STOPWORDS, with_fingerprint,  # noqa: F401
                   with_language_id, with_quality_score,
                   with_token_count)
