"""Query-plan registry: one module per SURVEY §2 group, each op registered
with its DuckDB oracle by ``registry.op``."""
