"""TransactionItem schema (SURVEY §1.2 state schema, A8/A9/A11/A12,
D3/D4, O10) and the read-only legacy CSV state reader.

The reference persists mirroring state as an append-only CSV blob of
``TransactionItem`` rows — last-writer-wins per item key
(Storage/GlobalTableStatus.cs:19,112-180, TransactionItem.cs:24).
This engine keeps the same rows in a Delta table instead
(``delta_state.DeltaStateStore``, SURVEY §7.4).  What stays here:

- the item columns (TransactionItem.cs:24; the ``dynamic`` JSON-in-cell
  columns stay JSON strings, H6), the item identity ``KEY`` and the
  terminal states;
- ``StateStore``, the reader for state dirs written by the retired CSV
  backend: each flush there appended one ``ix_<seq>_<uuid>.csv`` file,
  and the current view is the last write per item key in ``seq``
  order.  ``DeltaStateStore`` reads it once to migrate such a dir in
  place.
"""

from __future__ import annotations

import csv
import io
from typing import Any

from ..sources import fs as _fs

COLUMNS = [
    "table_name",
    "start_tx_id",
    "end_tx_id",
    "action",  # Schema | StagingTable | Add | Remove
    "state",  # Initial | Analyzed | Skipped | Staged | Done
    "mirror_timestamp",
    "delta_timestamp",
    "blob_path",
    "partition_values",  # JSON
    "size",
    "record_count",
    "partition_columns",  # JSON
    "schema",  # JSON
    "internal_state",  # JSON
]
# item identity (GetItemKey analogue, GlobalTableStatus.cs:72-74)
KEY = ["table_name", "start_tx_id", "end_tx_id", "action", "blob_path"]

COMPLETE_STATES = ("Done", "Skipped")


_INT_COLS = ("start_tx_id", "end_tx_id", "size", "record_count")


class StateStore:
    """Read-only view of a legacy CSV state dir: the last-writer-wins
    fold over its ``ix_*.csv`` files."""

    def __init__(self, state_dir: str):
        self.dir = state_dir
        self.fs = _fs.get_fs(state_dir)

    def current_items(self) -> list[dict[str, Any]]:
        """LWW current state: ascending file order is append order, so
        a later row for the same key wins (D4)."""
        items: dict[tuple, dict[str, Any]] = {}
        for name in sorted(
            n for n in self.fs.listdir(self.dir) if n.startswith("ix_")
        ):
            text = self.fs.read_text(_fs.join(self.dir, name))
            for row in csv.DictReader(io.StringIO(text)):
                it: dict[str, Any] = {c: (row.get(c) or None) for c in COLUMNS}
                for c in _INT_COLS:
                    if it[c] is not None:
                        it[c] = int(it[c])
                items[tuple(it[k] for k in KEY)] = it
        return list(items.values())
