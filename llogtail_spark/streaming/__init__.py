"""Structured Streaming surface: the file-source stream analog of the
reference's inotify tail loop."""
