"""Per-change benchmark of LightGBM SQL inference; see ``README.md``."""
