"""Closed-loop benchmark of the message plane and the query registry; see README.md."""
