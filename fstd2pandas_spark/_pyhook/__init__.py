"""The interpreter-start hook (``sitecustomize``); nothing else."""
