"""Operator inventory (SURVEY.md par.2), expressed as generic DataFrame
transformations.  Each module maps to a reference capability family; the
query contract (``contract/``) binds them to the benchmark tables.
"""
