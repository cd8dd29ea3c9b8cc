"""End-to-end pipeline plans (SURVEY §3.4)."""
