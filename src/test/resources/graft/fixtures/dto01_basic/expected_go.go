package dto

import "encoding/json"

type RecordUser struct {
    Id int64 `json:"id"`
    Email *string `json:"email,omitempty"`
}

type Record struct {
    Id int64 `json:"id"`
    Name *string `json:"name,omitempty"`
    Price float64 `json:"price"`
    Active bool `json:"active"`
    Tags *json.RawMessage `json:"tags,omitempty"`
    User RecordUser `json:"user"`
    DisplayName string `json:"display-name"`
}
