"""Layered benchmark for the SQLite bridge and the analytic suite."""
