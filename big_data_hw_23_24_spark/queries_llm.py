"""LLM-data-pipeline queries: dedup, similarity search, text analysis,
multimodal plumbing, pipeline assembly — the north-star extensions,
oracle-checked where SQL-expressible.

Split by tier (this file had grown past 5k lines): importing this
module registers every tier, in the import order below, and
queries.py's ``_ensure_loaded`` imports ``queries_llm``. Shingling/tokenization conventions are mirrored exactly
between the Spark operators and the DuckDB oracle SQL (single-space
split, empty tokens dropped, distinct word 3-grams) — the shared CTE
builders live in ``queries_llm_shared``.
"""

from __future__ import annotations

from . import queries_llm_dedup  # noqa: F401
from . import queries_llm_similarity  # noqa: F401
from . import queries_llm_text  # noqa: F401
from . import queries_llm_pipeline  # noqa: F401
