"""Result checks: every timed op is compared with an answer computed
outside the program (the generator's bookkeeping or a DuckDB oracle)."""

from __future__ import annotations


def request_ok(summary: list | None, staged_rows: list[int] | None,
               want: list | None) -> bool:
    """An ``artist_store`` request. ``summary`` is ``[artist_name,
    albums_stored, tracks_stored]`` or None for an empty search;
    ``staged_rows`` the NDJSON rows written for albums and tracks; ``want``
    the generator's ``[artist_name, albums, tracks]`` or None for a name
    that matches no artist."""
    if want is None or summary is None:
        return want is None and summary is None
    return summary == want and staged_rows == want[1:]


def count_ok(count: int, oracle: dict) -> bool:
    """A query op: its ``count()`` against the oracle's row count."""
    return count == oracle["count"]


def values_ok(columns: list[str], canon_rows: list, oracle: dict) -> bool:
    """The full value check: column names and the order-insensitive
    canonical rows (``tests/oracle_harness._canon_rows``) must match."""
    return sorted(columns) == oracle["cols"] and canon_rows == oracle["canon"]
