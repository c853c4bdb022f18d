from .cc import (connected_components,  # noqa: F401
                 connected_components_salted)
from .dedup import (dedup_exact, exact_duplicate_groups,  # noqa: F401
                    minhash_dedup_pairs, simhash64,
                    simhash_near_dup_pairs)
from .linking import (canonicalize, entity_mentions,  # noqa: F401
                      exact_candidate_pairs, lsh_candidate_pairs,
                      minhash_signatures)
from .materialize import ResumableExtraction  # noqa: F401
from .build import KGReport, build_kg  # noqa: F401
