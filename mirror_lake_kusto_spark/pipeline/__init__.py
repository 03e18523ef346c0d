"""The mirror pipeline: incremental, exactly-once Delta->table sync
(SURVEY §3) — the reference CLI's entire purpose, re-expressed
Spark-first.  delta_log/delta_sink (sources/) are the table format
layer; delta_state.py is the TransactionItem checkpoint store (state.py
holds the item schema and the legacy CSV reader it migrates from);
orchestrate.py is the per-table sync loop."""
