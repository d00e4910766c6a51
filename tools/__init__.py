"""Repo tooling (driver simulation, timing and cost ledger, timing
sweeps, derived corpora, oracle inventory, artifact-staleness gate)."""
