"""Oracle-checked benchmark of the sketch connectivity engine (see README.md)."""
