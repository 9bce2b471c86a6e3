"""Layered benchmark for xorf-spark; see README.md in this directory."""
