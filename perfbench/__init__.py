"""The repository benchmark; run.py is its entry point."""
