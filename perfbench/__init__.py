"""Gene-pipeline benchmark (see DESIGN.md)."""
