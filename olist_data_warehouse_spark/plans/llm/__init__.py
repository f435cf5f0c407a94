"""Per-family LLM-pipeline query modules (split from the former
monolithic plans/llm_queries.py; that module remains the
aggregator)."""
