"""The 12 reference models (4 bronze + 4 silver + 4 gold): bronze as
typed-cast projections, each silver and gold model as one SQL text
(``modelsql``), plus deterministic synthetic fixtures (FIXTURES.md §A).

Entry point: ``build_registry(raw, run_ts)`` returns a ModelRegistry wired
with the full medallion DAG; ``run()`` executes it with dbt-equivalent
semantics (topo waves, post-hook audit rows, schema tests).
"""

from .registry_build import build_registry

__all__ = ["build_registry"]
