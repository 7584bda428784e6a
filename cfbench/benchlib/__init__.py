"""Statistics, trace analysis and result parsing for the columnfile benchmark."""
