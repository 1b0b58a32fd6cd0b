"""The repository benchmark (run.py) and its helpers."""
