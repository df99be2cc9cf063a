"""Structured Streaming: the sharded sequence-packing stream over the
documents corpus (SURVEY.md §7 phase 5 north-star extension — the
reference itself has no streaming surface, see SURVEY.md §2.6)."""
