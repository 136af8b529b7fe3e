"""Delta operator-plane benchmark: see README.md."""
