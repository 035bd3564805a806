"""The flagship extraction pipeline: ingest -> salt/repartition ->
Arrow extraction kernel -> icetable results sink with lineage, with
checkpoint resume (SURVEY.md §3.3 / §7 spine)."""

from .extract import run_extraction, salted_pages
from .lineage import job_progress, lineage_rows, run_with_lineage_ice

__all__ = [
    "run_extraction",
    "salted_pages",
    "lineage_rows",
    "job_progress",
    "run_with_lineage_ice",
]
