"""Distributed operators: crawl rounds, dedup, politeness, index (+ the
term-bucketed index_store), ranking, phrase
search, similarity, text stats, multimodal plumbing, and the distillation
pipeline composing them."""
