"""The repository benchmark (see run.py and DESIGN.md)."""
