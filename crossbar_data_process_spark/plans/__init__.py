"""Composed plans: the CROssBAR gold adapters, the gold build (``gold.py``),
the KG path queries (``kg.py``) and the declared query registry
(``queries.py``, imported directly by its users so the gold build never
loads it)."""
